"""Output checks, run after the timed region. Every check is one attempt;
a failed check (or an op that raised) counts as one failure."""
import glob
import os

import gen


class Verdict:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes = []

    def check(self, ok, what):
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 20:
                self.notes.append(f"FAIL {what}")

    def as_dict(self):
        return {"attempted": self.attempted, "failed": self.failed, "notes": self.notes}


def _norm(x):
    """JSON numbers may come back as float for integral values."""
    if isinstance(x, float) and x.is_integer():
        return int(x)
    if isinstance(x, list):
        return [_norm(y) for y in x]
    return x


def check_lakehouse(res, truth, v):
    ops = truth["ops"]
    for rec in res["ops"]:
        op = ops[rec["i"]]
        what = f"op {rec['i']} {rec['kind']} t{op['table']}"
        if "error" in rec:
            v.check(False, f"{what} raised: {rec['error'][:200]}")
            continue
        got = _norm(rec["result"])
        kind = rec["kind"]
        if kind in ("point", "read_table"):
            v.check(got == op["expect"], f"{what}: {got} != {op['expect']}")
        elif kind == "meta_agg":
            v.check(got["value"] == op["expect"], f"{what}: {got['value']} != {op['expect']}")
        elif kind in ("scan_agg", "flat_view"):
            v.check(got == op["expect"], f"{what}: {got} != {op['expect']}")
        elif kind == "changes":
            v.check(got == op["expect_keys"], f"{what}: {len(got)} keys != {len(op['expect_keys'])}")
        else:
            v.check(True, what)
    model = gen.LakehouseModel(truth["init"])
    for op in ops[:res["ops_done"]]:
        model.apply(op)
    sums = res["checksums"]
    for t in sorted({op["table"] for op in ops[:res["ops_done"]]}):
        want = model.checksum(t)
        got = _norm(sums.get(str(t)))
        v.check(got == want, f"table t{t} checksum {got} != {want}")


def check_analytic(work, res, v):
    import duckdb
    data = os.path.join(work, "inputs", "analytic")
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in gen.ANALYTIC_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet/*.parquet')")
    for q in res["queries"]:
        name = q["name"]
        if "error" in q:
            v.check(False, f"{name} raised: {q['error'][:200]}")
            continue
        v.check(q["repeat_mismatches"] == 0,
                f"{name}: {q['repeat_mismatches']} timed passes differ from the checked output")
        sql = q.get("oracle")
        if not sql:
            continue
        files = glob.glob(os.path.join(work, "out", name, "*.parquet"))
        try:
            odf = con.execute(sql).fetchdf()
            sdf = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf() if files else None
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            v.check(False, f"{name}: oracle error {e}")
            continue
        v.check(*_same_frame(name, odf, sdf))


def _same_frame(name, odf, sdf):
    """Exact comparison after sorting columns by name and rows by value."""
    if sdf is None:
        return False, f"{name}: no output"
    oc, sc = sorted(odf.columns), sorted(sdf.columns)
    if oc != sc:
        return False, f"{name}: columns {oc} != {sc}"
    if len(odf) != len(sdf):
        return False, f"{name}: {len(sdf)} rows, oracle {len(odf)}"
    odf = odf[oc].sort_values(oc, ignore_index=True)
    sdf = sdf[sc].sort_values(sc, ignore_index=True)
    for c in oc:
        if str(odf[c].dtype) != str(sdf[c].dtype):
            return False, f"{name}: dtype[{c}] {sdf[c].dtype} != {odf[c].dtype}"
        if not odf[c].equals(sdf[c]):
            return False, f"{name}: values of {c} differ"
    return True, name


def check(workload, work, res, truth):
    v = Verdict()
    if workload == "lakehouse_txn":
        check_lakehouse(res, truth, v)
    else:
        check_analytic(work, res, v)
    return v.as_dict()
