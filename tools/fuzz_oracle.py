"""Differential query fuzzer: random filter+aggregate queries
executed by BOTH Spark and DuckDB, results compared group-by-group
with numeric tolerance.

The fixed driver queries prove the declared operator surface; this
proves the *engine* agrees with DuckDB on an open-ended neighborhood
of that surface (predicate combinations, group-bys, aggregate
choices nobody hand-picked).

Usage:
    python tools/fuzz_oracle.py [N] [seed]
Exit code 1 on any divergence beyond tolerance.
"""

from __future__ import annotations

import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"

NUM_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
NUM_RANGES = {
    "l_quantity": (1, 50),
    "l_extendedprice": (900, 100000),
    "l_discount": (0.0, 0.1),
    "l_tax": (0.0, 0.08),
}
STR_COLS = {"l_returnflag": ["A", "N", "R"], "l_linestatus": ["O", "F"]}
DATE_COL = "l_shipdate"
GROUP_CHOICES = [[], ["l_returnflag"], ["l_linestatus"], ["l_returnflag", "l_linestatus"]]
AGG_FUNCS = ["SUM", "AVG", "MIN", "MAX", "COUNT"]


def random_predicate(rng: random.Random) -> str:
    atoms = []
    for _ in range(rng.randint(1, 3)):
        kind = rng.choice(["num", "num", "str", "date"])
        if kind == "num":
            col = rng.choice(NUM_COLS)
            lo, hi = NUM_RANGES[col]
            val = round(rng.uniform(lo, hi), 3)
            op = rng.choice(["<", "<=", ">", ">=", "=", "!="])
            atoms.append(f"{col} {op} {val}")
        elif kind == "str":
            col = rng.choice(list(STR_COLS))
            val = rng.choice(STR_COLS[col])
            op = rng.choice(["=", "!=", "IN"])
            if op == "IN":
                vals = rng.sample(STR_COLS[col], rng.randint(1, len(STR_COLS[col])))
                atoms.append(f"{col} IN ({', '.join(repr(v) for v in vals)})")
            else:
                atoms.append(f"{col} {op} {val!r}")
        else:
            y, m = rng.randint(1995, 2001), rng.randint(1, 12)
            op = rng.choice(["<", ">=", ">"])
            atoms.append(f"{DATE_COL} {op} TIMESTAMP '{y}-{m:02d}-01 00:00:00'")
    joiner = rng.choice([" AND ", " OR "])
    return joiner.join(atoms)


def random_query(rng: random.Random) -> tuple[str, list[str]]:
    pred = random_predicate(rng)
    fn = rng.choice(AGG_FUNCS)
    col = rng.choice(NUM_COLS)
    agg = "COUNT(*)" if fn == "COUNT" else f"{fn}({col})"
    if rng.random() < 0.3:
        # join variant: lineitem ⋈ orders with an order-side predicate
        o_groups = rng.choice([[], ["o_orderstatus"], ["o_orderpriority"]])
        o_pred = rng.choice(
            [
                f"o_totalprice > {rng.randint(50_000, 400_000)}",
                f"o_orderstatus = '{rng.choice(['O', 'F', 'P'])}'",
                f"o_orderdate >= TIMESTAMP '{rng.randint(1995, 2001)}-01-01 00:00:00'",
            ]
        )
        sel = (", ".join(o_groups) + ", " if o_groups else "") + f"{agg} AS agg_val"
        sql = (
            f"SELECT {sel} FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            f"WHERE ({pred}) AND {o_pred}"
        )
        if o_groups:
            sql += " GROUP BY " + ", ".join(o_groups)
        return sql, o_groups
    if rng.random() < 0.12:
        # date-function grouping variant: truncation/extraction fns
        # both dialects share; counts keyed by the derived period
        expr = rng.choice(
            [
                "CAST(year(l_shipdate) AS INT)",
                "CAST(month(l_shipdate) AS INT)",
                # string-cast in SQL: both engines render the DATE
                # themselves (the python-side compare would otherwise
                # see datetime.date vs pandas Timestamp)
                "CAST(CAST(date_trunc('month', l_shipdate) AS DATE) AS STRING)",
                "CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT)",
            ]
        )
        sql = (
            f"SELECT {expr} AS grp, CAST(COUNT(*) AS BIGINT) AS agg_val "
            f"FROM lineitem WHERE {pred} GROUP BY 1"
        )
        return sql, ["grp"]
    if rng.random() < 0.1:
        # set-operation variant: two predicate slices of the
        # (returnflag, linestatus) projection combined with
        # DISTINCT-semantics set ops — both engines must agree on
        # the resulting key set
        pred2 = random_predicate(rng)
        setop = rng.choice(["INTERSECT", "EXCEPT", "UNION"])
        sql = (
            f"SELECT l_returnflag, l_linestatus, CAST(1 AS BIGINT) AS agg_val "
            f"FROM (SELECT l_returnflag, l_linestatus FROM lineitem WHERE {pred} "
            f"{setop} "
            f"SELECT l_returnflag, l_linestatus FROM lineitem WHERE {pred2}) t"
        )
        return sql, ["l_returnflag", "l_linestatus"]
    if rng.random() < 0.15:
        # outer/semi/anti join variant: LEFT keeps the order-side
        # predicate in the ON clause (null-extension semantics — a
        # WHERE placement would silently convert it to inner);
        # semi/anti go through EXISTS / NOT EXISTS, the portable
        # spelling both engines decorrelate
        o_pred = rng.choice(
            [
                f"o_totalprice > {rng.randint(50_000, 400_000)}",
                f"o_orderstatus = '{rng.choice(['O', 'F', 'P'])}'",
                f"o_orderpriority = '{rng.choice(['1-URGENT', '5-LOW'])}'",
            ]
        )
        shape = rng.choice(["left", "semi", "anti"])
        if shape == "left":
            sql = (
                f"SELECT l_returnflag, CAST(COUNT(o_orderkey) AS BIGINT) AS agg_val "
                f"FROM lineitem LEFT JOIN orders "
                f"ON l_orderkey = o_orderkey AND {o_pred} "
                f"WHERE {pred} GROUP BY l_returnflag"
            )
        else:
            neg = "NOT " if shape == "anti" else ""
            sql = (
                f"SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS agg_val "
                f"FROM lineitem WHERE ({pred}) AND {neg}EXISTS ("
                f"SELECT 1 FROM orders WHERE o_orderkey = l_orderkey AND {o_pred}) "
                f"GROUP BY l_returnflag"
            )
        return sql, ["l_returnflag"]
    if rng.random() < 0.15:
        # string-expression grouping variant (dialect-shared string fns)
        expr = rng.choice(
            [
                "upper(l_returnflag)",
                "l_returnflag || '-' || l_linestatus",
                "substring(l_returnflag, 1, 1)",
                "CAST(length(l_returnflag || l_linestatus) AS INT)",
            ]
        )
        sql = (
            f"SELECT {expr} AS grp, CAST(COUNT(*) AS BIGINT) AS agg_val "
            f"FROM lineitem WHERE {pred} GROUP BY 1"
        )
        return sql, ["grp"]
    if rng.random() < 0.15:
        # top-k aggregate variant: ORDER BY agg LIMIT k with group
        # tiebreak — both engines must select the same top groups
        part = rng.choice(["l_returnflag", "l_linestatus", "l_suppkey % 10"])
        alias = "grp"
        sql = (
            f"SELECT {part} AS {alias}, ROUND(SUM(l_extendedprice), 2) AS agg_val "
            f"FROM lineitem WHERE {pred} GROUP BY {alias} "
            f"ORDER BY SUM(l_extendedprice) DESC, {alias} LIMIT 3"
        )
        return sql, [alias]
    if rng.random() < 0.2:
        # window variant: deterministic full ordering → exact compare
        wfn = rng.choice(["ROW_NUMBER()", "RANK()", "DENSE_RANK()"])
        part = rng.choice(["l_returnflag", "l_linestatus"])
        sql = (
            f"SELECT l_orderkey, l_linenumber, {wfn} OVER ("
            f"PARTITION BY {part} ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber"
            f") AS agg_val FROM lineitem WHERE ({pred}) AND l_orderkey < 2000"
        )
        return sql, ["l_orderkey", "l_linenumber"]
    if rng.random() < 0.15:
        # frame-window variant: RANGE frames only — (l_orderkey,
        # l_linenumber) is NOT unique in the synthetic lineitem, so a
        # ROWS frame's content depends on tie order and both engines
        # can disagree legitimately (the fuzzer itself caught this);
        # a RANGE frame includes all peers of the boundary order
        # value, making every row's aggregate order-insensitive
        wagg = rng.choice(["SUM(l_quantity)", "MIN(l_extendedprice)", "COUNT(*)"])
        part = rng.choice(["l_returnflag", "l_linestatus"])
        nprec = rng.choice([1, 3, 9])
        sql = (
            f"SELECT l_orderkey, l_linenumber, ROUND({wagg} OVER ("
            f"PARTITION BY {part} ORDER BY l_orderkey "
            f"RANGE BETWEEN {nprec} PRECEDING AND CURRENT ROW), 4) AS agg_val "
            f"FROM lineitem WHERE ({pred}) AND l_orderkey < 2000"
        )
        return sql, ["l_orderkey", "l_linenumber"]
    if rng.random() < 0.15:
        # rollup variant: super-aggregate rows included; NULL group
        # keys from the rollup must match across engines
        cols = rng.choice([["l_returnflag"], ["l_returnflag", "l_linestatus"]])
        sql = (
            f"SELECT {', '.join(cols)}, CAST(COUNT(*) AS BIGINT) AS agg_val "
            f"FROM lineitem WHERE {pred} GROUP BY ROLLUP ({', '.join(cols)})"
        )
        return sql, cols
    if rng.random() < 0.15:
        # three-way join variant (r10): lineitem⋈orders⋈customer with
        # predicates on all three levels — the star-shape the q08
        # family plans; COUNT keyed by a customer-side group
        c_pred = rng.choice(
            [
                f"c_acctbal > {rng.randint(-500, 5000)}",
                f"c_nationkey < {rng.randint(5, 25)}",
            ]
        )
        grp = rng.choice(["c_nationkey % 5", "o_orderstatus"])
        sql = (
            f"SELECT CAST({grp} AS STRING) AS grp, "
            f"CAST(COUNT(*) AS BIGINT) AS agg_val, "
            f"ROUND(SUM(l_extendedprice), 2) AS rev "
            f"FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            f"JOIN customer ON o_custkey = c_custkey "
            f"WHERE ({pred}) AND {c_pred} GROUP BY 1"
        )
        return sql, ["grp"]
    if rng.random() < 0.15:
        # HAVING variant (r10): post-aggregate filter on a different
        # aggregate than the projected one — both engines must agree
        # on which groups survive; threshold on an exact COUNT so a
        # float boundary can't flip membership
        grp = rng.choice(["l_returnflag", "l_linestatus", "l_suppkey % 7"])
        n = rng.randint(2, 400)
        sql = (
            f"SELECT CAST({grp} AS STRING) AS grp, "
            f"ROUND(AVG(l_quantity), 6) AS agg_val "
            f"FROM lineitem WHERE {pred} GROUP BY 1 "
            f"HAVING COUNT(*) >= {n}"
        )
        return sql, ["grp"]
    if rng.random() < 0.15:
        # distinct-aggregate + CASE variant (r10): COUNT(DISTINCT)
        # exact in both engines; the CASE-filtered SUM is the
        # conditional-aggregation idiom (exact: integer quantities)
        grp = rng.choice(["l_returnflag", "l_linestatus"])
        flag = rng.choice(["A", "N", "R"])
        sql = (
            f"SELECT {grp} AS grp, "
            f"CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS agg_val, "
            f"CAST(SUM(CASE WHEN l_returnflag = '{flag}' "
            f"THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS cond_sum "
            f"FROM lineitem WHERE {pred} GROUP BY 1"
        )
        return sql, ["grp"]
    groups = rng.choice(GROUP_CHOICES)
    sel = (", ".join(groups) + ", " if groups else "") + f"{agg} AS agg_val"
    sql = f"SELECT {sel} FROM lineitem WHERE {pred}"
    if groups:
        sql += " GROUP BY " + ", ".join(groups)
    return sql, groups


def compare(spark_rows, duck_rows, groups) -> str | None:
    # Known dialect gap (verified directly, 2026-08): for GROUP BY
    # ROLLUP/CUBE over EMPTY input, DuckDB follows the SQL standard
    # and emits the () grouping-set grand-total row (NULL keys,
    # COUNT 0) while Spark emits zero rows. Not a plan bug in either
    # repo query (all rollup queries aggregate non-empty tables);
    # recorded here so the fuzzer doesn't re-flag it every run.
    if not spark_rows and len(duck_rows) == 1:
        gt = duck_rows[0]
        if all(gt[g] is None for g in groups):
            return None

    def _val(v):
        # normalize numeric rendering for multiset compare: DuckDB's
        # ROUND can deliver 5.0 where Spark delivers 5
        try:
            return f"{float(v):.6f}"
        except (TypeError, ValueError):
            return str(v)

    def keyed(rows):
        return {tuple(str(r[g]) for g in groups): r["agg_val"] for r in rows}

    import math

    def is_null(v) -> bool:
        # pandas renders SQL NULL as NaN; Spark collect gives None
        return v is None or (isinstance(v, float) and math.isnan(v))

    a, b = keyed(spark_rows), keyed(duck_rows)
    if len(a) != len(spark_rows) or len(b) != len(duck_rows):
        # group key not unique in the output (e.g. window queries over
        # non-unique natural keys) → exact multiset comparison instead
        def multiset(rows):
            return sorted(
                tuple(str(r[g]) for g in groups) + (_val(r["agg_val"]),) for r in rows
            )

        if multiset(spark_rows) != multiset(duck_rows):
            return "row multisets differ"
        return None
    if set(a) != set(b):
        return f"group keys differ: {set(a) ^ set(b)}"
    for k in a:
        va, vb = a[k], b[k]
        if is_null(va) and is_null(vb):
            continue
        if is_null(va) or is_null(vb):
            return f"null mismatch at {k}: {va} vs {vb}"
        va, vb = float(va), float(vb)
        if abs(va - vb) > 1e-6 + 1e-9 * max(abs(va), abs(vb)):
            return f"value mismatch at {k}: {va} vs {vb}"
    return None


def run(n: int = 50, seed: int = 7, quiet: bool = False) -> int:
    import duckdb

    from parquet_pipeline_spark.session import get_spark

    rng = random.Random(seed)
    spark = get_spark("fuzz")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").createOrReplaceTempView(t)
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    failures = 0
    for i in range(n):
        sql, groups = random_query(rng)
        try:
            s_rows = [r.asDict() for r in spark.sql(sql).collect()]
            d_rows = con.execute(sql).fetchdf().to_dict("records")
        except Exception as e:  # dialect gap is itself a finding
            print(f"[{i}] ERROR {sql}\n    {e}")
            failures += 1
            continue
        # DuckDB fetchdf renames COUNT(*) etc — normalize via alias
        # (we always alias to agg_val, so keys line up)
        try:
            diff = compare(s_rows, d_rows, groups)
        except Exception as e:  # a comparator bug must COUNT, not crash the run
            print(f"[{i}] COMPARE-ERROR {sql}\n    {e}")
            failures += 1
            continue
        if diff:
            print(f"[{i}] DIVERGE {sql}\n    {diff}")
            failures += 1
        elif not quiet:
            print(f"[{i}] ok ({len(s_rows)} groups) {sql[:90]}")
    print(f"\n{n - failures}/{n} agree")
    return 1 if failures else 0


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 7
    raise SystemExit(run(n, seed))
