"""Input generators for the benchmark's workloads.

Two kinds of input:
  - fixtures: the tables each workload starts from, generated once per
    checkout from a fixed data seed (`DATA_SEED`) and reused;
  - the operation stream of a run, generated from the run's --seed: key
    orders, MERGE batches, range-read positions, queries and upserts.

Every table follows the engine's corpus schemas (graft.Tables) and the
value grids its oracle-parity conventions assume: money as whole cents,
dates at midnight, timestamps in microseconds. The same seed always gives
byte-identical files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
EPOCH = np.datetime64("1970-01-01", "D")
DATA_SEED = 20261017


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _cents(rng, lo, hi, n):
    # Whole cents divided once: the nearest double to the decimal value,
    # as parsing the decimal text would give.
    return rng.integers(lo, hi + 1, n) / 100.0


def _days(rng, first, last, n):
    lo = (np.datetime64(first, "D") - EPOCH).astype(np.int64)
    hi = (np.datetime64(last, "D") - EPOCH).astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * 86_400_000_000, pa.timestamp("us"))


def sizes(sf):
    return dict(customer=int(150_000 * sf), supplier=int(10_000 * sf),
                part=int(200_000 * sf), orders=int(1_500_000 * sf),
                lineitem=int(6_000_000 * sf), events=int(1_000_000 * sf),
                users=int(15_000 * sf), documents=int(50_000 * sf),
                embeddings=max(500, int(20_000 * sf)))


def _json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f)


def corpus_tables(out, sf, only=None):
    """The ten corpus tables at scale `sf` (sf0.1: 150k orders, 600k
    lineitems). `only` limits the tables written."""
    rng = np.random.default_rng([DATA_SEED, 1])
    n = sizes(sf)
    want = lambda t: only is None or t in only
    os.makedirs(out, exist_ok=True)
    p = lambda t: os.path.join(out, f"{t}.parquet")
    if want("region"):
        _write(p("region"), {"r_regionkey": pa.array(range(5), pa.int32()),
                             "r_name": REGIONS})
    if want("nation"):
        _write(p("nation"), {"n_nationkey": pa.array(range(25), pa.int32()),
                             "n_name": [f"NATION_{i}" for i in range(25)],
                             "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    cust = {"c_custkey": np.arange(c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": _cents(rng, -99_999, 999_999, c),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)]}
    if want("customer"):
        _write(p("customer"), cust)
    s = n["supplier"]
    supp = {"s_suppkey": np.arange(s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
            "s_acctbal": _cents(rng, -99_999, 999_999, s)}
    if want("supplier"):
        _write(p("supplier"), supp)
    np_ = n["part"]
    part = {"p_partkey": np.arange(np_, dtype=np.int64),
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
            "p_type": [TYPES[i] for i in rng.integers(0, 6, np_)],
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": (90_000 + np.arange(np_) % 1000 * 10) / 100.0}
    if want("part"):
        _write(p("part"), part)
    o = n["orders"]
    orders = {"o_orderkey": np.arange(o, dtype=np.int64),
              "o_custkey": rng.integers(0, c, o),
              "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, o)],
              "o_totalprice": _cents(rng, 100_000, 50_000_000, o),
              "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", o),
              "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, o)]}
    if want("orders"):
        _write(p("orders"), orders)
    li = n["lineitem"]
    lines = {"l_orderkey": rng.integers(0, o, li),
             "l_partkey": rng.integers(0, np_, li),
             "l_suppkey": rng.integers(0, s, li),
             "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
             "l_quantity": rng.integers(1, 51, li).astype(np.float64),
             "l_extendedprice": _cents(rng, 90_000, 10_500_000, li),
             "l_discount": rng.integers(0, 11, li) / 100.0,
             "l_tax": rng.integers(0, 9, li) / 100.0,
             "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, li)],
             "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, li)],
             "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", li)}
    if want("lineitem"):
        _write(p("lineitem"), lines)
    if want("events"):
        e = n["events"]
        start = int((np.datetime64("2024-01-01T00:00:00", "us") -
                     np.datetime64("1970-01-01T00:00:00", "us")).astype(np.int64))
        ts = np.sort(rng.integers(0, 30 * 86_400_000_000, e)) + start
        _write(p("events"), {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n["users"], e),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
            "value": _cents(rng, 0, 56_000, e),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    if want("documents"):
        d = n["documents"]
        texts = [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), rng.integers(10, 101)))
                 for _ in range(d)]
        # Planted duplicates for the dedup keys: ~5% near copies, ~0.2% exact.
        for i in np.flatnonzero(rng.random(d) < 0.05):
            texts[i] = texts[rng.integers(0, d)] + " dup"
        for i in np.flatnonzero(rng.random(d) < 0.002):
            texts[i] = texts[rng.integers(0, d)]
        lang = rng.choice(LANGS, d, p=[0.14, 0.44, 0.14, 0.14, 0.14])
        _write(p("documents"), {
            "doc_id": np.arange(d, dtype=np.int64), "text": texts,
            "lang": list(lang), "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    if want("embeddings"):
        m = n["embeddings"]
        label = rng.integers(0, 10, m)
        centers = rng.normal(0, 0.12, (10, 64))
        vec = (centers[label] + rng.normal(0, 0.08, (m, 64))).astype(np.float32)
        _write(p("embeddings"), {
            "vec_id": np.arange(m, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32())})
    return n


DOC_SCHEMA = pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                        ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                        ("o_orderdate", pa.timestamp("us")), ("n_lines", pa.int64()),
                        ("qty", pa.float64()), ("revenue", pa.float64())])


def migrate_fixture(out, sf):
    """Source tables of the bulk load."""
    n = corpus_tables(out, sf, only={"customer", "orders", "lineitem"})
    _json(os.path.join(out, "meta.json"), {
        "orders": n["orders"], "customers": n["customer"],
        "source_rows": n["customer"] + n["orders"] + n["lineitem"]})


def migrate_ops(out, fx, seed, batches, batch_rows, reads):
    """MERGE batches of order docs and range-read positions. A batch's
    changed rows are half a recent-key run (a contiguous run near the top
    of the key range) and half scattered keys, and a tenth of its rows are
    inserts of new keys; the seed picks the keys and values. Keys within a
    batch are distinct, and inserted keys continue the key range. ops.json
    also lists each batch's row count and inserted keys, so the run keeps
    its model of the key set without reading the batches back. A read is
    (tail, u): tail reads start within the top keys, others anywhere."""
    with open(os.path.join(fx, "meta.json")) as f:
        meta = json.load(f)
    rng = np.random.default_rng([seed, 2])
    os.makedirs(os.path.join(out, "batches"), exist_ok=True)
    next_key = meta["orders"]
    batch_meta = []
    for b in range(batches):
        n_ins = batch_rows // 10
        n_recent = (batch_rows - n_ins) // 2
        n_scat = batch_rows - n_ins - n_recent
        start = next_key - 1 - rng.integers(n_recent, 4 * n_recent + 1)
        recent = np.arange(start, start + n_recent)
        pool = np.setdiff1d(rng.choice(next_key, n_scat * 2, replace=False), recent)
        scat = rng.choice(pool, n_scat, replace=False)
        ins = np.arange(next_key, next_key + n_ins)
        next_key += n_ins
        keys = np.concatenate([recent, scat, ins]).astype(np.int64)
        k = len(keys)
        batch_meta.append({"rows": k, "inserted": [int(x) for x in ins]})
        pq.write_table(pa.table({
            "o_orderkey": keys, "o_custkey": rng.integers(0, meta["customers"], k),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, k)],
            "o_totalprice": _cents(rng, 100_000, 50_000_000, k),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", k),
            "n_lines": rng.integers(0, 8, k), "qty": rng.integers(0, 200, k).astype(np.float64),
            "revenue": _cents(rng, 0, 50_000_000, k)}, schema=DOC_SCHEMA),
            os.path.join(out, "batches", f"b{b:04d}.parquet"))
    _json(os.path.join(out, "ops.json"), {
        "batches": batches, "batch_meta": batch_meta,
        "reads": [[bool(t), float(u)] for t, u in zip(rng.random(reads) < 0.5, rng.random(reads))]})


def _clusters(n_lists, dims):
    """Four cluster centres per index list: the lists then cut through
    clusters, so recall depends on how many lists a query probes (with one
    cluster per list, a single probe found nearly every neighbour)."""
    return np.random.default_rng([DATA_SEED, 3]).normal(0, 1, (4 * n_lists, dims))


def _vectors(rng, centers, m):
    label = rng.integers(0, len(centers), m)
    return label, (centers[label] + rng.normal(0, 1.2, (m, centers.shape[1]))).astype(np.float32)


def _vec_table(ids, label, vec):
    return pa.table({"vec_id": pa.array(ids, pa.int64()),
                     "embedding": pa.array(list(vec), pa.list_(pa.float32())),
                     "label": pa.array(label, pa.int32())})


def ann_fixture(out, n, dims, n_lists, queries):
    """A clustered corpus (`embeddings` table schema) and the brute-force
    cosine top-10 ground truth of `queries` corpus members (self
    excluded)."""
    rng = np.random.default_rng([DATA_SEED, 4])
    os.makedirs(out, exist_ok=True)
    label, vec = _vectors(rng, _clusters(n_lists, dims), n)
    pq.write_table(_vec_table(np.arange(n), label, vec), os.path.join(out, "embeddings.parquet"))
    qids = np.sort(rng.choice(n, queries, replace=False))
    v = vec.astype(np.float64)
    unit = v / np.linalg.norm(v, axis=1, keepdims=True)
    sims = unit[qids] @ unit.T
    sims[np.arange(queries), qids] = -np.inf
    top = np.argsort(-sims, axis=1, kind="stable")[:, :10]
    pq.write_table(pa.table({
        "query_id": pa.array(qids, pa.int64()),
        "ids": pa.array([list(t) for t in top], pa.list_(pa.int64())),
        "sims": pa.array([list(sims[i, t]) for i, t in enumerate(top)], pa.list_(pa.float64()))}),
        os.path.join(out, "truth.parquet"))
    _json(os.path.join(out, "meta.json"), {"n": n, "dims": dims, "n_lists": n_lists})


def _top_k(ids, sims, k=10):
    """Per row, the k best (highest sim, then lowest id) of the candidates."""
    order = np.lexsort((ids, -sims), axis=1)[:, :k]
    return np.take_along_axis(ids, order, 1), np.take_along_axis(sims, order, 1)


def ann_ops(out, fx, seed, batches, batch_size, singles, batch_queries):
    """Upsert batches drawn from the corpus clusters, the query stream
    (single-serve query ids and batch-serve query id sets, picked from the
    ground-truth queries), and the brute-force top-10 of every query after
    each upsert, so the run checks recall without computing truth itself.
    `truth[j]` holds the top-10 ids (in `truth_qids` order) after j
    upserts; `next_id[j]` is one past the largest id then visible."""
    with open(os.path.join(fx, "meta.json")) as f:
        meta = json.load(f)
    rng = np.random.default_rng([seed, 5])
    os.makedirs(os.path.join(out, "upserts"), exist_ok=True)
    centers = _clusters(meta["n_lists"], meta["dims"])
    n = meta["n"]
    t = pq.read_table(os.path.join(fx, "truth.parquet"))
    qids = np.array(t.column("query_id").to_pylist(), dtype=np.int64)
    ids = np.array(t.column("ids").to_pylist(), dtype=np.int64)
    sims = np.array(t.column("sims").to_pylist(), dtype=np.float64)
    emb = pq.read_table(os.path.join(fx, "embeddings.parquet"), columns=["embedding"]).column(0)
    qv = np.array(emb.take(pa.array(qids)).to_pylist(), dtype=np.float64)
    qv /= np.linalg.norm(qv, axis=1, keepdims=True)
    truth, next_id = [ids.tolist()], [n]
    for b in range(batches):
        label, vec = _vectors(rng, centers, batch_size)
        new = np.arange(n + b * batch_size, n + (b + 1) * batch_size)
        pq.write_table(_vec_table(new, label, vec),
                       os.path.join(out, "upserts", f"u{b:04d}.parquet"))
        v = vec.astype(np.float64)
        s_new = qv @ (v / np.linalg.norm(v, axis=1, keepdims=True)).T
        ids, sims = _top_k(np.hstack([ids, np.broadcast_to(new, s_new.shape)]),
                           np.hstack([sims, s_new]))
        truth.append(ids.tolist())
        next_id.append(int(new[-1]) + 1)
    _json(os.path.join(out, "ops.json"), {
        "batches": batches, "truth_qids": qids.tolist(), "truth": truth, "next_id": next_id,
        "singles": [int(q) for q in rng.choice(qids, singles)],
        "batch_sets": [[int(q) for q in rng.choice(qids, batch_queries, replace=False)]
                       for _ in range(batches)]})


def interactive_ops(out, seed, keys, rounds):
    """One permutation of the key indices per round."""
    rng = np.random.default_rng([seed, 6])
    os.makedirs(out, exist_ok=True)
    _json(os.path.join(out, "ops.json"),
          {"orders": [[int(i) for i in rng.permutation(keys)] for _ in range(rounds)]})
