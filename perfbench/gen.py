"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed (numpy PCG64): the same
seed gives byte-identical inputs, another seed gives other inputs. The
JVM side of the benchmark only ever reads what these functions write.
"""
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- analytic_scan

# Table content is fixed (generated from CONTENT_SEED, so query results do
# not depend on the run seed); the run seed permutes row order and the
# split into files, as a re-ingest of the same data would.
CONTENT_SEED = 42
ANALYTIC_SF = 0.02
ANALYTIC_TABLES = ["region", "nation", "customer", "supplier", "part",
                   "orders", "lineitem", "events", "documents", "embeddings"]

_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part fast "
          "row the agg key query a scan batch").split()


def _ts_us(year, month, day):
    return int(np.datetime64(f"{year:04d}-{month:02d}-{day:02d}", "us").astype(np.int64))


def analytic_tables(sf=ANALYTIC_SF, content_seed=CONTENT_SEED):
    """The TPC-H-shaped star schema plus events/documents/embeddings, with
    the column names and types of the repo's sf fixtures (TESTDATA.md)."""
    rng = np.random.Generator(np.random.PCG64(content_seed))
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 10)
    n_docs = max(int(50_000 * sf), 50)
    n_emb = max(int(20_000 * sf), 50)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array("small new large hot cold blue old red".split())
    noun = np.array("widget gizmo ring gear bolt plate rod anvil".split())
    ptypes = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    d0, d1 = _ts_us(1995, 1, 1), _ts_us(2001, 8, 1)
    day = 86_400_000_000
    odate = d0 + rng.integers(0, (d1 - d0) // day + 1, n_ord) * day
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    lok = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, n + 1) for n in lines]).astype(np.int32)
    n_li = len(lok)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = odate[lok] + rng.integers(1, 122, n_li) * day
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 3000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship, pa.timestamp("us"))})
    e0 = _ts_us(2024, 1, 1)
    span = 30 * day
    ts = np.sort(e0 + rng.integers(0, span, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": np.array(["click", "view", "purchase", "signup", "error"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(_WORDS)
    ntok = rng.integers(8, 100, n_docs)
    texts = [" ".join(words[rng.integers(0, len(words), n)]) for n in ntok]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": np.array(["en", "en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 7, n_docs)],
        "source": np.char.add("src", (np.arange(n_docs) % 20).astype(str)),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))})
    emb = rng.normal(0.0, 0.12, (n_emb, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})
    return t


ANALYTIC_PASS_EST_S = 20.0  # a pass plus its share of set-up on 4 cores; sizes the pass count


def analytic_passes(seconds):
    """Fixed timed-pass count for a run: whole passes over the 16 queries."""
    return max(1, int(round(seconds / ANALYTIC_PASS_EST_S)))


def write_analytic(out_dir, seed, tables=None):
    """Write each table as `<name>.parquet/part-*.parquet`: the rows in a
    seed-chosen order, split into a seed-chosen number of files."""
    tables = tables or analytic_tables()
    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    layout = {}
    for name in ANALYTIC_TABLES:
        tbl = tables[name]
        perm = rng.permutation(tbl.num_rows)
        nfiles = int(rng.integers(2, 7)) if tbl.num_rows >= 1000 else 1
        cuts = np.sort(rng.choice(np.arange(1, tbl.num_rows), nfiles - 1, replace=False)) \
            if nfiles > 1 else np.array([], dtype=np.int64)
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        shuffled = tbl.take(pa.array(perm))
        bounds = [0, *cuts.tolist(), tbl.num_rows]
        for i in range(nfiles):
            pq.write_table(shuffled.slice(bounds[i], bounds[i + 1] - bounds[i]),
                           os.path.join(d, f"part-{i:03d}.parquet"))
        layout[name] = nfiles
    return layout


# --------------------------------------------------------------- lakehouse_txn

LH_TABLES = 72          # more than SnapshotCache's 64 locations
LH_BASE_TABLES = 6      # written tables; the rest start as shallow clones of them
LH_PARTS = 4            # partition column p = k % 4
LH_INIT_ROWS = 400
LH_APPEND_ROWS = 25
LH_MERGE_UPDATES = 10   # upserts on recent keys ...
LH_MERGE_INSERTS = 8    # ... plus new keys
LH_BACKENDS = ["graft", "delta", "iceberg"]
# one block of the op stream: exact read/write mix, seeded order
LH_BLOCK = (["point"] * 4 + ["read_table"] + ["meta_agg"] * 2 + ["scan_agg"] * 2 + ["flat_view"]
            + ["changes"] * 2 + ["append"] * 3 + ["merge"] * 2 + ["delete"] * 2
            + ["replace_where"] * 1)
# the warm-up block: every kind but `changes` (an incremental read needs an
# earlier append), twice, so the timed ops do not pay the first calls' JIT
# compilation
LH_WARM = [k for k in sorted(set(LH_BLOCK), key=LH_BLOCK.index) if k != "changes"] * 2
LH_BLOCK_EST_S = 9.0        # a block plus its share of set-up on 4 cores; sizes the op count
LH_READS = {"point", "read_table", "meta_agg", "scan_agg", "flat_view", "changes"}


def lh_blocks(seconds):
    """Fixed op count for a run: whole blocks, about `seconds` of work."""
    return max(2, int(round(seconds / LH_BLOCK_EST_S)))


def lh_backend(t):
    return LH_BACKENDS[t % 3]


def _crc(s):
    return zlib.crc32(s.encode("utf-8"))


def _word(rng):
    return "".join(chr(97 + int(c)) for c in rng.integers(0, 26, int(rng.integers(3, 12))))


class LakehouseModel:
    """In-memory row model of every table: {table: {k: (v, s)}}, p = k % 4."""

    def __init__(self, init):
        self.rows = {t: dict(r) for t, r in init.items()}
        self.next_key = {t: max(r) + 1 for t, r in init.items()}

    def apply(self, op):
        rows = self.rows[op["table"]]
        kind = op["kind"]
        if kind in ("append", "merge"):
            for k, v, s in op["rows"]:
                rows[k] = (v, s)
        elif kind == "delete":
            p, m, r = op["p"], op["mod"], op["rem"]
            for k in [k for k in rows if k % LH_PARTS == p and k % m == r]:
                del rows[k]
        elif kind == "replace_where":
            for k in [k for k in rows if k % LH_PARTS == op["p"]]:
                del rows[k]
            for k, v, s in op["rows"]:
                rows[k] = (v, s)

    def expect(self, op):
        rows = self.rows[op["table"]]
        kind = op["kind"]
        if kind in ("point", "read_table"):
            r = rows.get(op["k"])
            return [[op["k"], r[0], r[1]]] if r else []
        if kind == "meta_agg":
            ks = [k for k in rows if k % LH_PARTS == op["p"]]
            return [len(ks), min(ks) if ks else None, max(ks) if ks else None]
        if kind == "scan_agg":
            vs = [v for k, (v, _) in rows.items() if op["lo"] <= k < op["hi"]]
            return [len(vs), sum(vs) if vs else None]
        if kind == "flat_view":
            vs = [v for k, (v, _) in rows.items() if k % LH_PARTS == op["p"]]
            return [len(vs), sum(vs) if vs else None]
        return None

    def checksum(self, t):
        rows = self.rows[t]
        return [len(rows), sum(rows), sum(v for v, _ in rows.values()),
                sum(_crc(s) for _, s in rows.values())]


def lakehouse(seed, n_blocks):
    """Initial tables plus a closed-loop op stream of `n_blocks` blocks.

    The stream's shape (the kind and table of every op) is the same for
    every seed, so a run's cost does not depend on which seed drew how
    many reads right after a write to their table or how many first
    touches; the seed draws the content: initial rows, keys, values and
    predicates. Keys are Zipf-biased toward the most recent ones. Each
    read op carries the result the row model expects at that point of
    the stream."""
    rng = np.random.Generator(np.random.PCG64([seed, 3]))
    shape = np.random.Generator(np.random.PCG64(0))
    init = {}
    for t in range(LH_BASE_TABLES):
        init[t] = {k: (int(rng.integers(0, 1000)), _word(rng)) for k in range(LH_INIT_ROWS)}
    for t in range(LH_BASE_TABLES, LH_TABLES):
        init[t] = dict(init[t % LH_BASE_TABLES])
    model = LakehouseModel(init)
    # table choice: the j-th op of a kind (in stream order) uses backend
    # j % 3; within a backend, tables are Zipf(1.1) over their rank (rank
    # r is table r), stratified: the m ops of a (kind, backend) pair take
    # the midpoints of m equal-probability bins of the rank CDF. MERGE
    # upserts go only to the hot base tables.
    w = 1.0 / np.arange(1, LH_TABLES + 1) ** 1.1
    nb = len(LH_BACKENDS)
    picks = {}
    for kind in sorted(set(LH_BLOCK)):
        n = LH_BLOCK.count(kind) * n_blocks
        limit = LH_BASE_TABLES if kind == "merge" else LH_TABLES
        per_backend = []
        for be in range(nb):
            ranks = np.arange(be, limit, nb)
            cdf = np.cumsum(w[ranks] / w[ranks].sum())
            m = len(range(be, n, nb))
            u = (np.arange(m) + 0.5) / m
            chosen = ranks[np.minimum(np.searchsorted(cdf, u), len(ranks) - 1)]
            per_backend.append([int(x) for x in shape.permutation(chosen)])
        picks[kind] = [per_backend[j % nb][j // nb] for j in range(n)]

    last_append = {}
    ops = []

    def recent_key(t):
        keys = model.next_key[t]
        return int(max(0, keys - int(rng.zipf(1.3)) * 3))

    def new_rows(t, n, p=None):
        out = []
        for _ in range(n):
            k = model.next_key[t]
            model.next_key[t] += 1
            if p is not None:
                while k % LH_PARTS != p:
                    k = model.next_key[t]
                    model.next_key[t] += 1
            out.append([k, int(rng.integers(0, 1000)), _word(rng)])
        return out

    # the warm-up ops go to the hottest tables, one each, so the harness may
    # run them concurrently
    warm_tables = shape.permutation(len(LH_WARM))
    for b, block in enumerate([LH_WARM] + [LH_BLOCK] * n_blocks):
        for j, kind in enumerate(shape.permutation(block)):
            kind = str(kind)
            t = int(warm_tables[j]) if b == 0 else picks[kind].pop(0)
            if kind == "changes" and t not in last_append:
                # incremental reads follow a table that has new commits,
                # of the same backend where there is one
                if not last_append:
                    kind = "point"
                else:
                    cands = ([u for u in last_append if lh_backend(u) == lh_backend(t)]
                             or list(last_append))
                    t = cands[int(shape.integers(0, len(cands)))]
            op = {"i": len(ops), "kind": kind, "table": t}
            if kind in ("point", "read_table"):
                op["k"] = recent_key(t)
            elif kind == "meta_agg" or kind == "flat_view":
                op["p"] = int(rng.integers(0, LH_PARTS))
            elif kind == "scan_agg":
                lo = recent_key(t)
                op["lo"], op["hi"] = max(0, lo - 40), lo + 1
            elif kind == "changes":
                op["of"] = last_append[t]
                op["expect_keys"] = sorted(r[0] for r in ops[last_append[t]]["rows"])
            elif kind == "append":
                op["rows"] = new_rows(t, LH_APPEND_ROWS)
                last_append[t] = op["i"]
            elif kind == "merge":
                live = sorted(model.rows[t])[-4 * LH_MERGE_UPDATES:]
                upd = sorted(rng.choice(live, LH_MERGE_UPDATES, replace=False).tolist())
                op["rows"] = [[int(k), int(rng.integers(0, 1000)), _word(rng)] for k in upd] \
                    + new_rows(t, LH_MERGE_INSERTS)
            elif kind == "delete":
                op["p"] = int(rng.integers(0, LH_PARTS))
                op["mod"], op["rem"] = 7, int(rng.integers(0, 7))
            elif kind == "replace_where":
                p = int(rng.integers(0, LH_PARTS))
                op["p"] = p
                keep = [k for k in model.rows[t] if k % LH_PARTS == p and rng.random() < 0.9]
                op["rows"] = [[k, int(rng.integers(0, 1000)), _word(rng)] for k in sorted(keep)] \
                    + new_rows(t, 5, p)
            op["expect"] = model.expect(op)
            model.apply(op)
            ops.append(op)
    return init, ops


def write_lakehouse(d, init, ops):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "tables.jsonl"), "w") as f:
        for t, rows in init.items():
            rec = {"table": t, "backend": lh_backend(t)}
            if t < LH_BASE_TABLES:
                rec["rows"] = [[k, v, s] for k, (v, s) in sorted(rows.items())]
            else:
                rec["clone_of"] = t % LH_BASE_TABLES
            f.write(json.dumps(rec) + "\n")
    with open(os.path.join(d, "meta.json"), "w") as f:
        json.dump({"warm_ops": len(LH_WARM)}, f)
    with open(os.path.join(d, "ops.jsonl"), "w") as f:
        for op in ops:
            f.write(json.dumps({k: v for k, v in op.items()
                                if k not in ("expect", "expect_keys")}) + "\n")
