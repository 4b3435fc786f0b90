"""Output checks of the perfbench workloads.

They compare what the program wrote against the truth the generator kept
(`gen.py`), never against anything the program computed. Each check returns
a list of mismatch descriptions; an empty list means the output is correct.
"""

import csv
import glob
import os

from gen import expected_row


def _read_csv(csv_dir, truth):
    """(rows as [contract, *truth columns], problems) of a single-file CSV."""
    parts = glob.glob(os.path.join(csv_dir, "part-*.csv"))
    if len(parts) != 1:
        return [], [f"{csv_dir}: {len(parts)} part files, want 1"]
    with open(parts[0], newline="", encoding="utf-8") as fh:
        rows = list(csv.reader(fh))
    want_cols = ["Contract"] + truth["columns"]
    if not rows or sorted(rows[0]) != sorted(want_cols):
        return [], [f"{parts[0]}: header {rows[:1]}, want the columns {want_cols}"]
    pos = [rows[0].index(c) for c in want_cols]
    return [[r[p] for p in pos] for r in rows[1:]], []


def etl_csv(csv_dir, truth):
    """The profile CSV (method 1: one row per contract) against the
    generator's per-contract sums."""
    rows, bad = _read_csv(csv_dir, truth)
    got = {r[0]: r[1:] for r in rows}
    if len(rows) != len(got):
        bad.append(f"{len(rows) - len(got)} duplicate contracts")
    want = truth["expected"]
    for k in sorted(set(want) | set(got)):
        if got.get(k) != want.get(k):
            bad.append(f"contract {k}: got {got.get(k)}, want {want.get(k)}")
    return bad


def etl_union_csv(csv_dir, truth):
    """Method 2's CSV: one profile row per contract and day file. Each row's
    derived columns must follow from its own sums, and each contract's sums
    over the days must equal the generator's."""
    rows, bad = _read_csv(csv_dir, truth)
    n = len(truth["columns"]) - 4          # the category columns
    total = {}
    for r in rows:
        sums = [int(v) for v in r[1:1 + n]]
        derived = expected_row(sums, 0)[n + 1:]
        if r[n + 2:] != derived:
            bad.append(f"contract {r[0]}: derived columns {r[n + 2:]}, want {derived}")
        acc = total.setdefault(r[0], [0] * n)
        for i, v in enumerate(sums):
            acc[i] += v
    want = {k: [int(v) for v in row[:n]] for k, row in truth["expected"].items()}
    for k in sorted(set(want) | set(total)):
        if total.get(k) != want.get(k):
            bad.append(f"contract {k}: day sums {total.get(k)}, want {want.get(k)}")
    return bad


def _read_ids(path):
    with open(path) as fh:
        return sorted(int(x) for x in fh.read().split())


def _id_diff(what, got, want):
    missing, extra = sorted(set(want) - set(got)), sorted(set(got) - set(want))
    if not missing and not extra and len(got) == len(want):
        return []
    return [f"{what}: {len(missing)} missing (e.g. {missing[:3]}), "
            f"{len(extra)} unexpected (e.g. {extra[:3]})"]


def serve_batch(admitted_file, batch):
    """The admitted set of a serve batch must equal its fresh docs."""
    return _id_diff(f"batch {batch['file']} admitted", _read_ids(admitted_file),
                    batch["fresh"])


def maintain(finish, truth):
    """After the cycles, copies of taken-down docs are admitted, copies of
    appended docs are rejected, and the live count adds up."""
    n = finish["cycles"]
    want = sorted(i for c in truth["cycles"][:n] for i in c["admit"])
    bad = _id_diff("probe admitted", _read_ids(finish["probe_admitted"]), want)
    live = truth["records"] + n * truth["cycle_docs"] - n * truth["cycle_docs"]
    if finish["live_docs"] != live:
        bad.append(f"live docs {finish['live_docs']}, want {live}")
    return bad
