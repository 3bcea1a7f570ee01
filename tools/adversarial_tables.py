"""Differential oracle batteries over DIRTY copies of the sf0.001 tables.

The fixtures carry well-behaved data; real tables carry NULL keys and
measures, out-of-range values, malformed JSON and hostile text long
before anyone validates them. Each battery rebuilds a tiny sf dir in
which one table (or, for ``dims``, customer + supplier + part at once)
is rewritten with planted dirt, copies the other tables unchanged, and
re-runs every ORACLED query whose SQL names a dirtied table through
the standard ``check_oracle.py`` comparator. Spark must keep agreeing
with DuckDB on the dirty inputs exactly as it does on the fixture.

``all`` dirties every table at once and re-runs the ENTIRE oracled
registry: queries that join two dirty tables (orphaned orders against
dirty lineitem, dirty events against dirty docs) exercise contract
combinations no single-table battery reaches.

    python tools/adversarial_tables.py <documents|embeddings|lineitem|events|orders|dims|all> [seed]

Exits nonzero if any query mismatches. Every dirty table is
byte-deterministic per seed.
"""

from __future__ import annotations

import datetime
import os
import random
import re
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# the smallest fixture, the one `entry()` smoke-checks
from __spark_entry__ import SMOKE_SF_DIR as BASE_SF  # noqa: E402


def _ts_of_random_row(pdf, rng):
    """A simultaneous event: another row's timestamp."""
    return pdf.loc[rng.randrange(len(pdf)), "ts"]


# Column-slice plans: battery -> {table: [(column, value, percent)]}.
# Each (column, value) lands on the next disjoint ``percent`` of a
# seeded shuffle of the rows; the rest stay clean and every KEY column
# stays intact, so joins still resolve. A callable value is evaluated
# row by row as ``value(pdf, rng)``.
SLICE_PLANS = {
    # NULL measures, dates and flags, zero and negative quantities,
    # 1e9-scale prices, a 100% discount, far-future and epoch-edge
    # ship dates: three-valued logic, null-skipping aggregates and
    # date comparisons
    "lineitem": {
        "lineitem": [
            ("l_quantity", None, 2),
            ("l_discount", None, 2),
            ("l_tax", None, 2),
            ("l_extendedprice", None, 2),
            ("l_shipdate", None, 2),
            ("l_returnflag", None, 2),
            ("l_quantity", 0.0, 1),
            ("l_quantity", -5.0, 1),
            ("l_extendedprice", 1.0e9, 1),
            ("l_extendedprice", 0.0, 1),
            ("l_discount", 1.0, 1),
            ("l_shipdate", datetime.datetime(2099, 12, 31), 1),
            ("l_shipdate", datetime.datetime(1970, 1, 1), 1),
        ],
    },
    # NULL timestamps, actors and values, malformed JSON props,
    # extreme values, epoch-1970 and 2099 timestamps, duplicated
    # timestamps (as-of / sessionize tie-break stress)
    "events": {
        "events": [
            ("ts", None, 2),
            ("user_id", None, 2),
            ("event_type", None, 2),
            ("value", None, 2),
            ("props", "not json", 1),
            ("props", "", 1),
            ("props", "{}", 1),
            ("props", '{"k": "str"}', 1),
            ("props", None, 1),
            ("value", -1.0, 1),
            ("value", 1.0e12, 1),
            ("ts", datetime.datetime(1970, 1, 1), 1),
            ("ts", datetime.datetime(2099, 12, 31), 1),
            ("ts", _ts_of_random_row, 2),
        ],
    },
    # the most-joined fact table: NULL o_custkey (orphaned orders —
    # outer-join and NOT IN stress), NULL measures and dates, extreme
    # prices, unknown status codes
    "orders": {
        "orders": [
            ("o_totalprice", None, 2),
            ("o_orderdate", None, 2),
            ("o_orderstatus", None, 2),
            ("o_orderpriority", None, 2),
            ("o_custkey", None, 2),
            ("o_totalprice", 0.0, 1),
            ("o_totalprice", -42.5, 1),
            ("o_totalprice", 1.0e9, 1),
            ("o_orderdate", datetime.datetime(1970, 1, 1), 1),
            ("o_orderdate", datetime.datetime(2099, 12, 31), 1),
            ("o_orderstatus", "X", 1),
        ],
    },
    # the dimension side that broadcast joins, group-bys and rank
    # windows hang off: NULL group keys, NULL join keys (orphaned
    # dimension rows), NULL/negative/zero money and size columns
    # (windows ordered by a nullable key diverge unless NULLS
    # FIRST/LAST is pinned), NULL and unicode names. One fixture, so
    # cross-dimension queries see composed dirt.
    "dims": {
        "customer": [
            ("c_mktsegment", None, 3),
            ("c_acctbal", None, 3),
            ("c_acctbal", -999.99, 2),
            ("c_acctbal", 0.0, 2),
            ("c_nationkey", None, 3),
            ("c_name", None, 2),
            ("c_name", "Ünïcodé–Cüstomer™ 'quote'", 2),
        ],
        "supplier": [
            ("s_nationkey", None, 4),
            ("s_acctbal", None, 4),
            ("s_acctbal", -1.0e6, 2),
            ("s_name", None, 2),
            ("s_name", "Sûpplïer—#2 \"dq\"", 2),
        ],
        "part": [
            ("p_brand", None, 3),
            ("p_type", None, 3),
            ("p_retailprice", None, 3),
            ("p_retailprice", 0.0, 2),
            ("p_retailprice", -5.0, 2),
            ("p_size", None, 3),
            ("p_name", "pärt∞ (weird)", 2),
        ],
    },
}


def _dirty(pdf, rng, plan):
    n = len(pdf)
    idx = list(range(n))
    rng.shuffle(idx)
    a = 0
    for col, value, percent in plan:
        rows = idx[n * a // 100 : n * (a + percent) // 100]
        if callable(value):
            for i in rows:
                pdf.loc[i, col] = value(pdf, rng)
        else:
            pdf.loc[rows, col] = value
        a += percent
    return pdf


# Edge-case texts. Supplementary-plane text (emoji) is left out:
# substring-heavy queries would count it differently; combining-free
# accents and CJK are the agreed-on envelope — extend with care.
EDGE_TEXTS = [
    "",
    " ",
    "x",
    "ab",
    "   leading and   trailing   ",
    "\t\ttabs\tand\nnewlines\n\n",
    "UPPER lower MiXeD case WORDS case words",
    "it's a 'quoted' \"string\" with %percent% and \\backslash\\",
    "café naïve résumé coöperate Zürich",
    "日本語のテキスト 中文文本 한국어 텍스트",
    "word " * 200,
    "1234567890 " * 5,
    "a b c d e f g h i j",
    "the the the the the the",
    "supercalifragilisticexpialidocious",
    "end with space ",
    " start with space",
    "mixed 123 and words 456 here",
    "!!! ??? ... ,,, ;;; :::",
    "one\ntwo\nthree\nfour",
]


def _documents(rng):
    """500 documents drawn from EDGE_TEXTS, ids/lang/source/n_chars
    kept valid."""
    import pandas as pd
    import pyarrow as pa

    langs = ["en", "es", "fr", "de"]
    rows = []
    for doc_id in range(500):
        t = rng.choice(EDGE_TEXTS)
        rows.append(
            {
                "doc_id": doc_id,
                "text": t,
                "lang": langs[doc_id % 4],
                "source": f"src{doc_id % 5}",
                "n_chars": len(t),
            }
        )
    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    )
    return pa.Table.from_pandas(pd.DataFrame(rows), schema=schema)


EMB_DIM = 64


def _embeddings(rng):
    """500 vectors with exact duplicates, near-duplicates at 1e-6,
    zero-norm (NaN cosine in both engines), 1e-20 and 1e20
    magnitudes, one-hot axes and sign flips. NaN/Inf components are
    left out: our operators' contract is finite components only."""
    import pandas as pd
    import pyarrow as pa

    def rand_vec():
        return [rng.gauss(0, 1) for _ in range(EMB_DIM)]

    rows = []
    base = {}
    for vec_id in range(500):
        kind = vec_id % 10
        if vec_id < 16:
            # ids 0..15 stay ordinary: query pins (vec_id < 5) and
            # even-spaced centroid seeds must hit well-behaved vectors
            v = rand_vec()
        elif kind == 3 and vec_id - 10 in base:
            v = list(base[vec_id - 10])
        elif kind == 4 and vec_id - 10 in base:
            v = [x + 1e-6 for x in base[vec_id - 10]]
        elif kind == 5:
            v = [0.0] * EMB_DIM
        elif kind == 6:
            v = [x * 1e-20 for x in rand_vec()]
        elif kind == 7:
            v = [x * 1e20 for x in rand_vec()]
        elif kind == 8:
            v = [0.0] * EMB_DIM
            v[vec_id % EMB_DIM] = 1.0
        elif kind == 9:
            v = [-x for x in rand_vec()]
        else:
            v = rand_vec()
        base[vec_id] = v
        rows.append(
            {
                "vec_id": vec_id,
                "embedding": [float(f"{x:.6g}") for x in v],
                "label": vec_id % 7,
            }
        )
    schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    )
    return pa.Table.from_pandas(pd.DataFrame(rows), schema=schema)


GENERATORS = {"documents": _documents, "embeddings": _embeddings}
BATTERIES = ("documents", "embeddings", "lineitem", "events", "orders", "dims")


def dirty_tables(battery: str) -> tuple[str, ...]:
    if battery == "all":
        return tuple(t for b in BATTERIES for t in dirty_tables(b))
    return tuple(SLICE_PLANS[battery]) if battery in SLICE_PLANS else (battery,)


def write_dirty(battery: str, out_dir: str, seed: int) -> None:
    """Write one battery's dirty table(s) into ``out_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    if battery in GENERATORS:
        pq.write_table(GENERATORS[battery](rng), f"{out_dir}/{battery}.parquet")
        return
    for table, plan in SLICE_PLANS[battery].items():
        t = pq.read_table(f"{BASE_SF}/{table}.parquet")
        pdf = _dirty(t.to_pandas(), rng, plan)
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=t.schema), f"{out_dir}/{table}.parquet"
        )


def build_fixture(battery: str, out_dir: str, seed: int) -> None:
    """Dirty tables of ``battery`` (every battery for ``all``) plus
    clean copies of the rest of BASE_SF."""
    for b in BATTERIES if battery == "all" else (battery,):
        write_dirty(b, out_dir, seed)
    for f in os.listdir(BASE_SF):
        if not os.path.exists(os.path.join(out_dir, f)):
            shutil.copy(os.path.join(BASE_SF, f), out_dir)


def oracled_touching(tables) -> list[str]:
    """Oracled queries whose SQL names any of ``tables`` as a whole
    word, in any case. A plain substring probe would also pick up
    aliases such as `n_orders` that read no orders table."""
    from parquet_pipeline_spark import registry

    registry.load_all()
    pat = re.compile(r"\b(%s)\b" % "|".join(map(re.escape, tables)), re.IGNORECASE)
    return sorted(name for name, sql in registry.ORACLES.items() if pat.search(sql))


def main() -> int:
    if len(sys.argv) < 2 or sys.argv[1] not in (*BATTERIES, "all"):
        sys.stderr.write(__doc__ + "\n")
        return 2
    battery = sys.argv[1]
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 7
    tmp = tempfile.mkdtemp(prefix=f"adversarial_{battery}_")
    build_fixture(battery, tmp, seed)
    if battery == "all":
        from parquet_pipeline_spark import registry

        registry.load_all()
        names = sorted(registry.ORACLES)
    else:
        names = oracled_touching(dirty_tables(battery))
    print(f"adversarial fixture at {tmp} (seed {seed}); {len(names)} queries")
    env = dict(os.environ, ORACLE_SF_DIR=tmp)
    if battery != "documents":
        # sig-digit compare: the planted 1e9/1e12 measures and 1e20
        # vector components push sums past the fixed-6dp envelope,
        # where last-ulp accumulation order flips the string
        env["ORACLE_SIG_DIGITS"] = "9"
    proc = subprocess.run(
        [sys.executable, "tools/check_oracle.py", *names], env=env, cwd=ROOT
    )
    return proc.returncode


if __name__ == "__main__":
    raise SystemExit(main())
