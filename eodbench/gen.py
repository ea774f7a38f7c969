"""Seeded input generator for the benchmark.

Everything is derived from one integer seed with Python's `random.Random`,
so the same seed writes byte-identical inputs. Nothing is read from outside
the run directory.

EOD inputs (bronze CSV, header `trade_date,symbol,open,high,low,close,volume`):
  * a 20,000-ticker universe; each date carries ~`rows` active tickers and
    churns ~2% of them, so every date brings symbols never seen before
    (restatement inputs keep one ticker set instead);
  * per date, the reference's 10 negative-volume rows, plus seeded faults:
    exact duplicate rows, same-key rows with other values, case/whitespace
    variants of a ticker, null-volume rows and unparseable-key rows;
  * restatements: a corrected re-delivery of a date (a new file name, the
    same rows, prices changed for a subset of tickers).

Document inputs (parquet, `doc_id BIGINT, text VARCHAR, embedding FLOAT[64]`):
  * a seed corpus, a held-out benchmark set, shards that mix fresh documents
    with exact re-crawls and near-duplicate edits of earlier documents and a
    few documents that quote a benchmark document, and a held-out probe set.
"""

import datetime as dt
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

UNIVERSE = 20_000
FAULTS = {
    "negative_volume": 10,  # the reference's fault rows
    "exact_duplicate": 20,
    "conflicting_duplicate": 20,  # same key, other values, same file
    "case_variant": 20,  # lower-case / padded copy of a ticker, other values
    "variant_only": 10,  # a ticker delivered only in its variant spelling
    "null_volume": 5,
    "bad_date": 3,
    "null_symbol": 2,
}
HEADER = "trade_date,symbol,open,high,low,close,volume\n"
LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"


def _tickers(rng):
    seen, out = set(), []
    while len(out) < UNIVERSE:
        s = "".join(rng.choice(LETTERS) for _ in range(rng.randint(3, 5)))
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def _trading_days(start, n):
    d, out = start, []
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def _px(x):
    return f"{x:.4f}"


class EodUniverse:
    """A ticker universe with a random-walk price per ticker."""

    def __init__(self, rng, rows, churn=True):
        self.rng = rng
        self.rows = rows
        self.churn = churn
        self.tickers = _tickers(rng)
        self.next_new = rows  # tickers [0, rows) start active
        self.active = list(range(rows))
        self.price = {}

    def _churn(self):
        rng = self.rng
        k = max(1, self.rows // 50)
        drop = set(rng.sample(range(len(self.active)), k))
        self.active = [t for i, t in enumerate(self.active) if i not in drop]
        for _ in range(k):
            self.active.append(self.next_new % UNIVERSE)
            self.next_new += 1

    def day_rows(self, day):
        """Rows of one date: list of [date, symbol, o, h, l, c, volume]."""
        rng = self.rng
        if self.churn:
            self._churn()
        ds = day.isoformat()
        out = []
        for t in self.active:
            p = self.price.get(t) or rng.uniform(5, 500)
            p = max(1.0, p * (1 + rng.gauss(0, 0.02)))
            self.price[t] = p
            o = p * (1 + rng.gauss(0, 0.005))
            hi = max(o, p) * (1 + abs(rng.gauss(0, 0.01)))
            lo = min(o, p) * (1 - abs(rng.gauss(0, 0.01)))
            out.append([ds, self.tickers[t], _px(o), _px(hi), _px(lo), _px(p),
                        str(rng.randint(100, 5_000_000))])
        rng.shuffle(out)
        # faults, each on its own rows so every count is exact
        f = FAULTS
        i = 0

        def take(n):
            nonlocal i
            sel = out[i:i + n]
            i += n
            return sel

        for r in take(f["negative_volume"]):
            r[6] = str(-rng.randint(1, 10_000))
        extra = []
        for r in take(f["exact_duplicate"]):
            extra.append(list(r))
        for r in take(f["conflicting_duplicate"]):
            d = list(r)
            d[5] = _px(float(r[5]) * 1.01)
            extra.append(d)
        for r in take(f["case_variant"]):
            d = list(r)
            d[1] = " " + r[1].lower() + " "
            d[5] = _px(float(r[5]) * 0.99)
            extra.append(d)
        for r in take(f["variant_only"]):
            r[1] = r[1].lower() + "  "
        for r in take(f["null_volume"]):
            r[6] = "NULL"
        for r in take(f["bad_date"]):
            r[0] = ds[:5] + "13-45"
        for r in take(f["null_symbol"]):
            r[1] = "NULL"
        out.extend(extra)
        rng.shuffle(out)
        return out


def _write_csv(path, rows):
    with open(path, "w") as fh:
        fh.write(HEADER)
        fh.writelines(",".join(r) + "\n" for r in rows)


def _restate(rng, rows):
    """A corrected re-delivery: same rows, prices of ~10% of tickers moved."""
    out = []
    for r in rows:
        r = list(r)
        if r[2] != "" and rng.random() < 0.10:
            k = 1 + rng.choice([-1, 1]) * rng.uniform(0.02, 0.05)
            for j in (2, 3, 4, 5):
                r[j] = _px(float(r[j]) * k)
        out.append(r)
    return out


def eod_inputs(root, seed, rows, n_dates, restate_lag=0):
    """Write `n_dates` trading dates (plus restatements, and no ticker churn,
    when `restate_lag` > 0) under `root`; return the manifest."""
    rng = random.Random(seed)
    os.makedirs(root, exist_ok=True)
    manifest = {"dates": []}
    # restatement inputs keep one ticker set: no new symbols after day one
    uni = EodUniverse(rng, rows, churn=not restate_lag)
    days = _trading_days(dt.date(2024, 1, 2), n_dates)
    for d in days:
        rs = uni.day_rows(d)
        p = os.path.join(root, f"eod_{d.isoformat()}_v1.csv")
        _write_csv(p, rs)
        entry = {"date": d.isoformat(), "file": p, "rows": len(rs)}
        if restate_lag:
            c = os.path.join(root, f"eod_{d.isoformat()}_v2.csv")
            _write_csv(c, _restate(rng, rs))
            entry["correction"] = c
        manifest["dates"].append(entry)
    return manifest


# ---------------------------------------------------------------- documents

VOCAB = ("batch part spark line column order small sort fast value scan hash "
         "slow group agg filter query big key window row table stream merge "
         "data a the vector join customer index store shard crawl token text "
         "model score bloom gram page site link node edge tree graph cache "
         "disk file byte word term doc set map list queue heap stack").split()
DIM = 64


def _text(rng, lo=12, hi=60):
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))


def _vec(rng):
    return [rng.gauss(0, 1) for _ in range(DIM)]


def _edit(rng, text):
    """A near-duplicate: a few words replaced, never by themselves."""
    w = text.split()
    for i in rng.sample(range(len(w)), max(1, len(w) // 20)):
        w[i] = rng.choice([v for v in VOCAB if v != w[i]])
    return " ".join(w)


def _write_docs(path, docs):
    docs = sorted(docs)
    pq.write_table(pa.table({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text": pa.array([d[1] for d in docs], pa.string()),
        "embedding": pa.array([d[2] for d in docs], pa.list_(pa.float32()))}), path)


def doc_inputs(root, seed, n_seed, n_bench, shard_sizes, n_probe):
    """Seed corpus, benchmark set, one shard of each size in `shard_sizes`
    and a probe set under `root`."""
    rng = random.Random(seed)
    os.makedirs(root, exist_ok=True)
    next_id = 1
    corpus = {}  # doc_id -> (text, vec) for every document ingested so far
    origin = {}  # doc_id -> the first document with the same text

    def fresh(n, lo=12, hi=60):
        nonlocal next_id
        out = []
        for _ in range(n):
            out.append((next_id, _text(rng, lo, hi), _vec(rng)))
            next_id += 1
        return out

    seed_docs = fresh(n_seed)
    corpus.update({d[0]: d[1:] for d in seed_docs})
    origin.update({d[0]: d[0] for d in seed_docs})
    bench = fresh(n_bench, 30, 60)
    man = {"seed": os.path.join(root, "seed.parquet"),
           "bench": os.path.join(root, "bench.parquet"), "shards": [],
           "recrawl": {}}
    _write_docs(man["seed"], seed_docs)
    _write_docs(man["bench"], bench)
    for s, shard_docs in enumerate(shard_sizes):
        n_recrawl = shard_docs // 10
        n_near = shard_docs // 10
        n_contam = max(1, shard_docs // 50)
        docs = fresh(shard_docs - n_recrawl - n_near - n_contam)
        origin.update({d[0]: d[0] for d in docs})
        earlier = list(corpus)
        for src in rng.sample(earlier, n_recrawl):
            text, vec = corpus[src]
            docs.append((next_id, text, vec))
            origin[next_id] = origin[src]
            man["recrawl"][str(next_id)] = origin[src]
            next_id += 1
        for src in rng.sample(earlier, n_near):
            text, vec = corpus[src]
            docs.append((next_id, _edit(rng, text),
                         [x + rng.gauss(0, 0.05) for x in vec]))
            origin[next_id] = next_id
            next_id += 1
        for _ in range(n_contam):
            b = rng.choice(bench)[1].split()
            docs.append((next_id, _text(rng, 5, 10) + " " + " ".join(b[:24]),
                         _vec(rng)))
            origin[next_id] = next_id
            next_id += 1
        rng.shuffle(docs)
        p = os.path.join(root, f"shard_{s:03d}.parquet")
        _write_docs(p, docs)
        man["shards"].append({"batch_id": s, "file": p, "docs": len(docs)})
        corpus.update({d[0]: d[1:] for d in docs})
    probe = fresh(n_probe // 2)
    for src in rng.sample(list(corpus), n_probe - len(probe)):
        probe.append((next_id, _edit(rng, corpus[src][0]), corpus[src][1]))
        next_id += 1
    man["probe"] = os.path.join(root, "probe.parquet")
    _write_docs(man["probe"], probe)
    return man


def write_manifest(path, manifest):
    with open(path, "w") as fh:
        json.dump(manifest, fh, indent=1)
