"""Seeded input generators of the perfbench workloads.

Everything here is a pure function of the seed: the same seed writes the same
bytes. Each generator also returns the truth the output checks compare
against, computed while the inputs are written and without the program under
test.

* `logs`: 30 daily JSONL files in the Elasticsearch-export envelope the
  reference job reads (`{"_index", "_type", "_id", "_score", "_source":
  {Contract, Mac, TotalDuration, AppName}}`), named `yyyyMMdd.json`.
* `corpus`: a standing corpus of Zipf-vocabulary documents, serve batches
  that mix exact copies, near copies and fresh documents, and daily
  maintenance cycles (documents to append, ids to take down, and a probe
  batch that checks both).
"""

import hashlib
import json
import os
import shutil

import numpy as np

LOG_DAYS = 30
LOG_ROWS_PER_DAY = 20_000
LOG_CONTRACTS = 6_000
LOG_FIRST_DAY = (2022, 4, 1)

# The reference's 14 mapped codes (case matters: KPLUS and KPlus are both
# mapped) and codes it does not map, which land in the "Error" category.
CATEGORY_OF = {
    "CHANNEL": "TVDuration", "DSHD": "TVDuration", "KPLUS": "TVDuration",
    "KPlus": "TVDuration",
    "VOD": "MovieDuration", "FIMS_RES": "MovieDuration", "BHD_RES": "MovieDuration",
    "VOD_RES": "MovieDuration", "FIMS": "MovieDuration", "BHD": "MovieDuration",
    "DANET": "MovieDuration",
    "RELAX": "RelaxDuration", "CHILD": "ChildDuration", "SPORT": "SportDuration",
}
UNMAPPED = ["kplus", "IPTV", "FSHARE", "APP"]
CATEGORIES = ["ChildDuration", "MovieDuration", "RelaxDuration", "SportDuration",
              "TVDuration"]
LABELS = ["Thiếu nhi", "Phim truyện", "Giải trí", "Thể thao", "Truyền hình"]

CORPUS_DOCS = 10_000
CORPUS_SHARDS = 4
VOCAB = 20_000
DOC_WORDS = (80, 120)
BATCH_DOCS = 2_000
SERVE_BATCHES = 8          # batch 0 warms up; the timed loop cycles 1..7
EXACT_SHARE, NEAR_SHARE = 0.05, 0.20
CYCLES = 12                # cycle 0 warms up
CYCLE_DOCS = 40           # appended and taken down per cycle

BATCH_ID0 = 10_000_000
APPEND_ID0 = 20_000_000
PROBE_ID0 = 30_000_000


def log_dates():
    import datetime
    d0 = datetime.date(*LOG_FIRST_DAY)
    return [(d0 + datetime.timedelta(days=i)).strftime("%Y%m%d") for i in range(LOG_DAYS)]


def _zipf_weights(n, s, q=2.7):
    w = 1.0 / (np.arange(n) + q) ** s
    return w / w.sum()


def expected_row(sums, rows):
    """The reference's 10-column output row for one contract, from its
    per-category second sums and its row count (Error rows included)."""
    top = max(sums)
    most = LABELS[sums.index(top)]
    taste = "-".join(lbl for lbl, v in zip(LABELS, sums) if v != 0)
    days = sum(sums) / 86400.0
    active = "Low" if days < 10 else ("Medium" if days < 20 else "High")
    return [*(str(v) for v in sums), str(rows), most, taste, active]


def write_logs(out, seed):
    rng = np.random.default_rng([seed, 1])
    codes = list(CATEGORY_OF) + UNMAPPED
    code_w = np.array([1.0] * len(CATEGORY_OF) + [0.25] * len(UNMAPPED))
    code_w /= code_w.sum()
    contracts = [f"SGH{n:06d}" for n in rng.choice(1_000_000, LOG_CONTRACTS, replace=False)]
    macs = [[f"{m:012X}" for m in rng.integers(0, 2**48, rng.integers(1, 4))]
            for _ in contracts]
    cweights = _zipf_weights(LOG_CONTRACTS, 0.8, q=50)
    cat_index = np.array([CATEGORIES.index(CATEGORY_OF[c]) if c in CATEGORY_OF else -1
                          for c in codes])
    sums = np.zeros((LOG_CONTRACTS, len(CATEGORIES)), dtype=np.int64)
    rows = np.zeros(LOG_CONTRACTS, dtype=np.int64)
    n_bytes = 0
    for day in log_dates():
        n = LOG_ROWS_PER_DAY
        who = rng.choice(LOG_CONTRACTS, n, p=cweights)
        sentinel = rng.random(n) < 0.01          # Contract "0"
        app = rng.choice(len(codes), n, p=code_w)
        dur = rng.integers(1, 10801, n)
        mac_pick = rng.integers(0, 3, n)
        ids = rng.integers(0, 2**63, n)
        lines = []
        for i in range(n):
            c = int(who[i])
            contract = "0" if sentinel[i] else contracts[c]
            ms = macs[c]
            lines.append(
                '{"_index":"history","_type":"kplus","_id":"AX%016x","_score":0,'
                '"_source":{"Contract":"%s","Mac":"%s","TotalDuration":%d,"AppName":"%s"}}'
                % (ids[i], contract, ms[mac_pick[i] % len(ms)], dur[i], codes[app[i]]))
        text = "\n".join(lines) + "\n"
        with open(os.path.join(out, f"{day}.json"), "w") as fh:
            fh.write(text)
        n_bytes += len(text)
        real = ~sentinel
        np.add.at(rows, who[real], 1)
        ci = cat_index[app]
        valid = real & (ci >= 0)
        np.add.at(sums, (who[valid], ci[valid]), dur[valid])
    expected = {contracts[c]: expected_row([int(v) for v in sums[c]], int(rows[c]))
                for c in range(LOG_CONTRACTS) if sums[c].any()}
    return {"dates": log_dates(), "records": LOG_DAYS * LOG_ROWS_PER_DAY,
            "input_bytes": n_bytes, "files": LOG_DAYS,
            "columns": CATEGORIES + ["TotalDevices", "most_watch", "Taste", "Active_day"],
            "expected": expected}


class _Texts:
    def __init__(self, rng):
        self.rng = rng
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        words = set()
        while len(words) < VOCAB:
            k = int(rng.integers(3, 10))
            words.add("".join(rng.choice(letters, k)))
        self.vocab = sorted(words)
        self.p = _zipf_weights(VOCAB, 1.0)

    def fresh(self, n):
        lens = self.rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, n)
        picks = self.rng.choice(VOCAB, int(lens.sum()), p=self.p)
        out, at = [], 0
        for k in lens:
            out.append(" ".join(self.vocab[w] for w in picks[at:at + k]))
            at += k
        return out

    def near(self, text):
        """One word in the middle replaced: Jaccard of 3-shingles >= 0.9,
        so MinHash-LSH finds the pair with near certainty."""
        words = text.split(" ")
        i = int(self.rng.integers(len(words) // 4, 3 * len(words) // 4))
        repl = self.vocab[int(self.rng.integers(VOCAB))]
        while repl == words[i]:
            repl = self.vocab[int(self.rng.integers(VOCAB))]
        words[i] = repl
        return " ".join(words)


def _write_docs(path, ids, texts):
    with open(path, "w") as fh:
        for i, t in zip(ids, texts):
            fh.write('{"doc_id":%d,"text":"%s"}\n' % (i, t))
    return os.path.getsize(path)


def write_corpus(out, seed):
    rng = np.random.default_rng([seed, 2])
    tx = _Texts(rng)
    standing = tx.fresh(CORPUS_DOCS)
    # the standing corpus arrives as shard files, so its scan splits
    # into as many tasks as a usual build host has cores
    os.makedirs(os.path.join(out, "corpus"))
    n_bytes = 0
    for k in range(CORPUS_SHARDS):
        n_bytes += _write_docs(os.path.join(out, "corpus", f"part-{k}.json"),
                               range(k, CORPUS_DOCS, CORPUS_SHARDS),
                               standing[k::CORPUS_SHARDS])

    takedown = rng.choice(CORPUS_DOCS, CYCLES * CYCLE_DOCS, replace=False)
    # serve batches copy only docs no cycle takes down, so their expected
    # admitted set holds after any number of cycles
    kept = np.setdiff1d(np.arange(CORPUS_DOCS), takedown)
    batches = []
    n_exact = int(BATCH_DOCS * EXACT_SHARE)
    n_near = int(BATCH_DOCS * NEAR_SHARE)
    n_fresh = BATCH_DOCS - n_exact - n_near
    for b in range(SERVE_BATCHES):
        src = rng.choice(kept, n_exact + n_near, replace=False)
        texts = ([standing[s] for s in src[:n_exact]] +
                 [tx.near(standing[s]) for s in src[n_exact:]] + tx.fresh(n_fresh))
        kinds = ["exact"] * n_exact + ["near"] * n_near + ["fresh"] * n_fresh
        order = rng.permutation(BATCH_DOCS)
        ids = [BATCH_ID0 + b * BATCH_DOCS + j for j in range(BATCH_DOCS)]
        texts = [texts[o] for o in order]
        kinds = [kinds[o] for o in order]
        name = f"batch-{b}.json"
        _write_docs(os.path.join(out, name), ids, texts)
        batches.append({"file": name, "docs": BATCH_DOCS,
                        "fresh": sorted(i for i, k in zip(ids, kinds) if k == "fresh")})

    cycles = []
    for c in range(CYCLES):
        add_ids = [APPEND_ID0 + c * CYCLE_DOCS + j for j in range(CYCLE_DOCS)]
        add_texts = tx.fresh(CYCLE_DOCS)
        gone = sorted(int(i) for i in takedown[c * CYCLE_DOCS:(c + 1) * CYCLE_DOCS])
        _write_docs(os.path.join(out, f"append-{c}.json"), add_ids, add_texts)
        with open(os.path.join(out, f"delete-{c}.json"), "w") as fh:
            fh.writelines('{"doc_id":%d}\n' % i for i in gone)
        # copies of the taken-down docs must be admitted after the cycle,
        # copies of the appended docs must be rejected
        p0 = PROBE_ID0 + c * 2 * CYCLE_DOCS
        back = list(range(p0, p0 + CYCLE_DOCS))
        dup = list(range(p0 + CYCLE_DOCS, p0 + 2 * CYCLE_DOCS))
        _write_docs(os.path.join(out, f"probe-{c}.json"), back + dup,
                    [standing[i] for i in gone] + add_texts)
        cycles.append({"append": f"append-{c}.json", "delete": f"delete-{c}.json",
                       "probe": f"probe-{c}.json", "admit": back})
    return {"records": CORPUS_DOCS, "input_bytes": n_bytes, "corpus": "corpus",
            "batches": batches, "cycles": cycles, "cycle_docs": CYCLE_DOCS}


def materialize(kind, seed, base):
    """Write the `kind` inputs of `seed` under `base` once; later calls reuse
    them until this file changes. Returns (directory, truth)."""
    with open(__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    final = os.path.join(base, f"{kind}-{seed}-{version}")
    truth_file = os.path.join(final, "truth.json")
    if not os.path.exists(truth_file):
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        truth = (write_logs if kind == "logs" else write_corpus)(tmp, seed)
        with open(os.path.join(tmp, "truth.json"), "w") as fh:
            json.dump(truth, fh)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    with open(truth_file) as fh:
        return final, json.load(fh)
