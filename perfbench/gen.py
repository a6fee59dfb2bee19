"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (workload, seed): the same seed gives
byte-identical files. Each generator returns the input's properties
(rows, bytes, skew, near-duplicate share, case sizes), which run.py prints
and README.md documents.

  corpus   documents resampled from the sf0.1 documents pool, plus a
           seeded share of near-duplicate copies (1-2 words replaced)
  interval an events-schema table with Zipf-skewed user_id, plus
           interval-identifier test cases with reference-computed ids
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
POOL = os.path.join(HERE, "data", "documents_pool.parquet")

# workload sizes; see README.md for why
CORPUS_DOCS = 1500            # originals drawn from the 5000-doc pool
CORPUS_DUP_SHARE = (0.10, 0.14)
INTERVAL_ROWS = 200_000
INTERVAL_USERS = 4_000
INTERVAL_ZIPF = 1.1
TESTKIT_CASES = 400
TESTKIT_ROWS = (10, 200)
# cases come in blocks of 10 with the same mix in every block (seeded order
# within a block): these mutant counts, and one size from each tenth of the
# log-size range, so the timed cases of every run have the same mix and the
# median case has one mutant
TESTKIT_MUTANTS = (0, 0, 1, 1, 1, 1, 1, 2, 2, 3)
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
MARKERS = {  # dtype -> (start, end, noise)
    "int": (1, 2, 0),
    "float": (0.1, 0.2, 0.3),
    "str": ("start", "end", "noise"),
}
WORKLOAD_CODE = {"corpus": 1, "interval": 2, "testkit": 3}


def rng_for(workload, seed):
    return np.random.default_rng([WORKLOAD_CODE[workload], int(seed)])


def write_parquet(table, path):
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def gen_corpus(seed, out):
    rng = rng_for("corpus", seed)
    pool = pq.read_table(POOL).to_pydict()
    n_pool = len(pool["doc_id"])
    base = rng.choice(n_pool, size=CORPUS_DOCS, replace=False)
    share = rng.uniform(*CORPUS_DUP_SHARE)
    n_dup = int(round(CORPUS_DOCS * share / (1.0 - share)))
    vocab = sorted({w for t in pool["text"] for w in t.split()})
    rows = [(pool["text"][i], pool["lang"][i], pool["source"][i]) for i in base]
    for src in rng.choice(CORPUS_DOCS, size=n_dup, replace=True):
        text, lang, source = rows[src]
        words = text.split()
        for pos in rng.choice(len(words), size=min(len(words), int(rng.integers(1, 3))),
                              replace=False):
            words[pos] = vocab[int(rng.integers(len(vocab)))]
        rows.append((" ".join(words), lang, source))
    order = rng.permutation(len(rows))
    rows = [rows[i] for i in order]
    table = pa.table({
        "doc_id": pa.array(range(len(rows)), pa.int64()),
        "text": pa.array([r[0] for r in rows], pa.string()),
        "lang": pa.array([r[1] for r in rows], pa.string()),
        "source": pa.array([r[2] for r in rows], pa.string()),
        "n_chars": pa.array([len(r[0]) for r in rows], pa.int64()),
    })
    size = write_parquet(table, os.path.join(out, "documents.parquet"))
    return {"rows": len(rows), "bytes": size, "originals": CORPUS_DOCS,
            "near_dup_rows": n_dup, "near_dup_share": round(n_dup / len(rows), 4)}


def gen_interval(seed, out):
    rng = rng_for("interval", seed)
    n, users = INTERVAL_ROWS, INTERVAL_USERS
    weights = 1.0 / np.arange(1, users + 1) ** INTERVAL_ZIPF
    weights /= weights.sum()
    ids = rng.permutation(users)
    rank = rng.choice(users, size=n, p=weights)
    user = ids[rank].astype(np.int64)
    gaps = rng.integers(1, 2_000_000, size=n)  # microseconds
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, size=n)]),
        "value": pa.array(np.round(rng.uniform(0, 200, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })
    size = write_parquet(table, os.path.join(out, "events.parquet"))
    counts = np.sort(np.bincount(user, minlength=users))[::-1]
    top = max(1, users // 100)
    return {"rows": n, "bytes": size, "users": users, "zipf_s": INTERVAL_ZIPF,
            "active_users": int((counts > 0).sum()),
            "top1pct_user_share": round(float(counts[:top].sum()) / n, 4),
            "max_user_rows": int(counts[0])}


def reference_lsfe(markers, start, end):
    """Interval ids for one group in order: the last start before an end
    opens the interval, the first end closes it (both inclusive); ids are
    enumerated 1..n, rows outside a complete interval get 0."""
    iids = [0] * len(markers)
    open_at, next_id = None, 1
    for i, m in enumerate(markers):
        if m is not None and m == start:
            open_at = i
        elif m is not None and m == end and open_at is not None:
            for j in range(open_at, i + 1):
                iids[j] = next_id
            next_id += 1
            open_at = None
    return iids


def case_iids(order, group, marker, start, end):
    iids = [0] * len(order)
    for g in sorted(set(group)):
        idx = sorted((i for i in range(len(order)) if group[i] == g), key=lambda i: order[i])
        for i, v in zip(idx, reference_lsfe([marker[i] for i in idx], start, end)):
            iids[i] = v
    return iids


def fmt(v):
    return "\\N" if v is None else repr(v) if isinstance(v, float) else str(v)


def gen_testkit(seed, out):
    rng = rng_for("testkit", seed)
    lines, sizes, mutants, groups = [], [], 0, []
    dtypes = sorted(MARKERS)
    cases = []
    n_mut, n_rows = [], []
    block = len(TESTKIT_MUTANTS)
    lo, hi = np.log(TESTKIT_ROWS[0]), np.log(TESTKIT_ROWS[1] + 1)
    for _ in range(0, TESTKIT_CASES, block):
        n_mut += [int(x) for x in rng.permutation(TESTKIT_MUTANTS)]
        strata = (np.arange(block) + rng.uniform(size=block)) / block
        n_rows += [int(np.exp(lo + (hi - lo) * f)) for f in rng.permutation(strata)]
    for cid in range(TESTKIT_CASES):
        dtype = dtypes[int(rng.integers(len(dtypes)))]
        start, end, noise = MARKERS[dtype]
        n = n_rows[cid]
        n_groups = int(rng.integers(1, 9))
        order = [int(x) for x in rng.permutation(n)]
        group = [int(x) for x in rng.integers(0, n_groups, size=n)]
        pick = rng.choice(4, size=n, p=[0.3, 0.25, 0.3, 0.15])
        marker = [(start, end, noise, None)[k] for k in pick]
        iids = case_iids(order, group, marker, start, end)
        muts = []
        for row in rng.choice(n, size=n_mut[cid], replace=False):
            choices = [v for v in (start, end, noise) if v != marker[row]]
            muts.append((int(row), choices[int(rng.integers(len(choices)))]))
        cases.append((cid, dtype, order, group, marker, start, end, iids, muts))
        lines.append(f"case {cid} {dtype} {fmt(start)} {fmt(end)} {n}")
        lines += [f"r {o} {g} {fmt(m)} {i}" for o, g, m, i in zip(order, group, marker, iids)]
        lines += [f"m {r} {fmt(v)}" for r, v in muts]
        sizes.append(n)
        groups.append(len(set(group)))
        mutants += len(muts)
    path = os.path.join(out, "cases.txt")
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    s = np.array(sizes)
    props = {"cases": TESTKIT_CASES, "case_rows_total": int(s.sum()),
             "cases_bytes": os.path.getsize(path), "case_rows_min": int(s.min()), "case_rows_p50": float(np.median(s)),
             "case_rows_p95": float(np.percentile(s, 95)), "case_rows_max": int(s.max()),
             "groups_mean": round(float(np.mean(groups)), 3),
             "mutants": mutants, "dtypes": {d: sum(c[1] == d for c in cases) for d in dtypes}}
    return props, cases


def generate(workload, seed, out):
    """Write the workload's inputs to `out`; return (properties, test cases)."""
    os.makedirs(out, exist_ok=True)
    if workload == "corpus":
        return gen_corpus(seed, out), None
    props = gen_interval(seed, out)
    case_props, cases = gen_testkit(seed, out)
    props.update(case_props)
    return props, cases
