#!/usr/bin/env python3
"""Unit test for oracle_check.pick_main_tier / load_costs (VERDICT r15
#5, ADVICE r15, VERDICT r16 #5): the single-slot main tier's
eligibility and ranking rules plus the cost cache's per-lane format and
sql-key provenance, pinned as pure-function cases so a scheduler
regression shows up without a 100x-corpus run. Also the comparer itself
(connect / check_one / main's name filter) on a tiny temp corpus with
both single-file and Spark-directory tables.

Run: python3 tools/test_oracle_tier.py   (exit 0 = pass)
Also invoked by the ScalaTest suite (ToolsSpec) so `sbt test` covers it.
"""
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from oracle_check import (pick_main_tier, load_costs, pool_equiv,  # noqa: E402
                          sql_key, MAIN_TIER_SEC,
                          MAIN_TIER_FULLTHREAD_SEC)

failures = []


def check(cond, msg):
    if not cond:
        failures.append(msg)
        print(f"FAIL {msg}")
    else:
        print(f"PASS {msg}")


names = ["a", "b", "c", "d", "e"]

# 1. Empty cache (first run on a fresh dump) => empty tier, pure pool.
check(pick_main_tier(names, {}) == [], "empty cost cache => empty tier")

# 2. Pool-lane wall over the pool budget is eligible; the cap is ONE.
costs = {"a": {"pool": 70.0}, "b": {"pool": 90.0}, "c": {"pool": 10.0}}
check(pick_main_tier(names, costs) == ["b"],
      "cap-1: only the heaviest pool-hostile query promotes")

# 3. A MAIN-lane (full-thread) wall uses the ratio-adjusted threshold:
#    dedup_semantic's r15 shape — 25 s at full threads, ~183 s pooled.
costs = {"a": {"main": 25.0}, "b": {"pool": 30.0}}
check(pick_main_tier(names, costs) == ["a"],
      "main-lane 25s (pool-hostile at ~4x) promotes over pool 30s")

# 4. ADVICE r15 (the mis-ranking class): a main-lane 20 s wall
#    (~80 s pool-equivalent) must OUTRANK a pool-lane 70 s wall —
#    raw-wall ranking picked the less pathological straggler.
costs = {"a": {"main": 20.0}, "b": {"pool": 70.0}}
check(pick_main_tier(names, costs) == ["a"],
      "lane-normalized ranking: main 20s beats pool 70s")

# 5. VERDICT r15 #5 (the serial-retry blind spot): a SERIAL-lane wall
#    from a one-off crash retry must not promote a pool-friendly query.
costs = {"a": {"serial": 20.0}}
check(pick_main_tier(names, costs) == [],
      "serial-lane 20s crash-retry wall cannot promote")
costs = {"a": {"serial": 20.0}, "b": {"pool": 70.0}}
check(pick_main_tier(names, costs) == ["b"],
      "serial 20s does not displace pool-hostile 70s")

# 6. A serial wall that would bound the whole run even unpooled
#    (>= the full pool budget at full threads) IS the straggler.
costs = {"a": {"serial": 467.0}, "b": {"pool": 70.0}}
check(pick_main_tier(names, costs) == ["a"],
      "a 467s serial monster still promotes")

# 7. Names outside the run's set never promote (stale cache entries
#    from a renamed/exempted query).
costs = {"zz": {"pool": 500.0}}
check(pick_main_tier(names, costs) == [],
      "stale cache names outside the run's set never promote")

# 8. VERDICT r16 #5 — the measured pair corrects the constant, both
#    ways. Eligibility: a query with BOTH walls whose measured pool
#    wall is under budget must NOT promote, even though its main wall
#    clears the ratio-adjusted bar (the constant would have promoted
#    it; the measurement says the pool handles it).
costs = {"a": {"main": 20.0, "pool": 50.0}, "b": {"pool": 70.0}}
check(pick_main_tier(names, costs) == ["b"],
      "measured pool 50s vetoes the constant's 20s-main promotion")
#    Ranking: both eligible, but a's measured pool wall (65s) ranks
#    BELOW b's 90s — the constant (main 25 x4 = 100) would mis-rank a
#    first and leave the true straggler in the pool.
costs = {"a": {"main": 25.0, "pool": 65.0}, "b": {"pool": 90.0}}
check(pick_main_tier(names, costs) == ["b"],
      "measured pair ranks pool 65 below 90 where the constant said 100")
check(pool_equiv({"main": 25.0, "pool": 65.0}) == 65.0
      and pool_equiv({"main": 25.0}) == 100.0
      and pool_equiv({"serial": 30.0}) == 120.0,
      "pool_equiv: measured pool wins, constants only as fallback")

# 9. load_costs provenance (r17): walls are (corpus, SQL) properties —
#    with the oracle given, only entries whose sql_key matches load;
#    keyless legacy formats are dropped the same way (a stale pool wall
#    beside a fresh main wall would promote a since-fixed query
#    forever). Without the oracle (this harness), keys are unchecked.
import json  # noqa: E402
import tempfile  # noqa: E402
oracle = {"a": "SELECT 1", "b": "SELECT 2", "c": "SELECT 3"}
cache = {
    "a": {"pool": 70.0, "main": 12.0, "k": sql_key(oracle["a"])},
    "b": {"pool": 449.0, "k": "deadbeef00"},   # stale: sql changed
    "c": 33.0,                                  # legacy float: keyless
    "d": [25.0, "main"],                        # r15 format: keyless
    "e": "garbage",
}
with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as fh:
    json.dump(cache, fh)
    p = fh.name
lc = load_costs(p, oracle)
check(lc == {"a": {"pool": 70.0, "main": 12.0}},
      "load_costs(oracle): key-valid entries only; stale and keyless drop")
lc2 = load_costs(p)
os.unlink(p)
check(lc2["c"] == {"pool": 33.0} and lc2["d"] == {"main": 25.0}
      and lc2["b"] == {"pool": 449.0} and "e" not in lc2,
      "load_costs(no oracle): legacy formats readable, garbage skipped")
check(load_costs("/nonexistent/_oracle_costs.json") == {},
      "load_costs: missing file is empty")

# 10. Threshold sanity: the constants the rules quote.
check(MAIN_TIER_SEC == 60.0 and MAIN_TIER_FULLTHREAD_SEC == 15.0,
      "tier thresholds unchanged (60s pool / 15s full-thread)")

# 11. The comparer itself, on a tiny corpus of both layouts: testdata's
#     single `<t>.parquet` files and ScaleUp's Spark-written `<t>.parquet/`
#     directories of part files (plus a `_SUCCESS` marker). A correct
#     entry passes, the name filter checks only the named entries, and a
#     wrong dump fails.
import contextlib  # noqa: E402
import io  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from oracle_check import TABLES, connect, check_one, main  # noqa: E402

os.environ["ORACLE_JOBS"] = "1"
with tempfile.TemporaryDirectory() as tmp:
    sf, out = os.path.join(tmp, "sf"), os.path.join(tmp, "out")
    os.makedirs(sf)
    dir_tables = {"orders", "customer"}
    for t in TABLES:
        if t in dir_tables:
            d = os.path.join(sf, f"{t}.parquet")
            os.makedirs(d)
            pq.write_table(pa.table({"id": [1, 2]}),
                           os.path.join(d, "part-00000.parquet"))
            pq.write_table(pa.table({"id": [3]}),
                           os.path.join(d, "part-00001.parquet"))
            open(os.path.join(d, "_SUCCESS"), "w").close()
        else:
            pq.write_table(pa.table({"id": [7], "name": [t]}),
                           os.path.join(sf, f"{t}.parquet"))
    oracle = {
        "orders_ids": "SELECT id FROM orders",
        "nation_names": "SELECT name, id FROM nation",
        "customer_wrong": "SELECT id FROM customer",
    }
    dumps = {
        "orders_ids": pa.table({"id": [3, 1, 2]}),
        "nation_names": pa.table({"id": [7], "name": ["nation"]}),
        "customer_wrong": pa.table({"id": [1, 2, 99]}),
    }
    for name, tbl in dumps.items():
        os.makedirs(os.path.join(out, name))
        pq.write_table(tbl, os.path.join(out, name, "part-00000.parquet"))
        open(os.path.join(out, name, "_SUCCESS"), "w").close()
    with open(os.path.join(out, "oracle_sql.json"), "w") as fh:
        json.dump(oracle, fh)

    con = connect(sf)
    ok, lines, _ = check_one(con, out, "orders_ids", oracle["orders_ids"])
    check(ok and "(3 rows)" in lines[0],
          "check_one: directory table reads every part file")
    ok, _, _ = check_one(con, out, "nation_names", oracle["nation_names"])
    check(ok, "check_one: single-file table, columns compared by name")
    ok, lines, _ = check_one(con, out, "customer_wrong",
                             oracle["customer_wrong"])
    check(not ok and lines[0].startswith("FAIL customer_wrong"),
          "check_one: a wrong dump fails")

    def run(names):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = main(sf, out, names)
        return rc, buf.getvalue()

    rc, text = run({"orders_ids", "nation_names"})
    check(rc == 0 and "== 2 pass, 0 fail ==" in text
          and "customer_wrong" not in text,
          "main(names): checks only the named entries")
    rc, text = run({"customer_wrong"})
    check(rc == 1 and "== 0 pass, 1 fail ==" in text,
          "main(names): a named wrong entry fails the run")
    rc, text = run(None)
    check(rc == 1 and "== 2 pass, 1 fail ==" in text,
          "main: no filter checks every entry")

if failures:
    print(f"== {len(failures)} FAILED ==")
    sys.exit(1)
print("== all tier tests passed ==")
