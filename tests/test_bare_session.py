"""Driver-environment simulation: the correctness driver builds its OWN
SparkSession (none of session.get_spark()'s configs — round-1 lesson: the
events_* queries crashed there because ``spark.sql.legacy.parquet.nanosAsLong``
was assumed). Only one SparkContext fits in a JVM, so this runs a bare session
in a subprocess and checks the config-sensitive queries against DuckDB there.
"""

import json
import os
import subprocess
import sys

#: the checkout these tests belong to, wherever it lives
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import json, sys
from pyspark.sql import SparkSession

sys.path.insert(0, sys.argv[1])  # the checkout root
import __spark_entry__ as entry_mod
from tests.oracle import compare, duckdb_con

# deliberately bare: no timezone, no nanosAsLong, no AQE tweaks
spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

sf = "/root/testdata/sf0.01"
con = duckdb_con(sf)
queries = entry_mod.queries()
oracles = entry_mod.oracle_sql()
results = {}
for name in ["events_daily", "events_tumbling", "events_hopping",
             "events_sessions", "events_json_props", "profile_lineitem"]:
    try:
        compare(queries[name](spark, sf), con, oracles[name], name)
        results[name] = "ok"
    except Exception as e:  # noqa: BLE001
        results[name] = f"FAIL: {e}"
print("RESULTS:" + json.dumps(results))
"""


def test_events_on_bare_session():
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, ROOT],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=ROOT,
    )
    marker = [l for l in proc.stdout.splitlines() if l.startswith("RESULTS:")]
    assert marker, f"no results marker\nstdout:{proc.stdout[-2000:]}\nstderr:{proc.stderr[-2000:]}"
    results = json.loads(marker[0][len("RESULTS:"):])
    bad = {k: v for k, v in results.items() if v != "ok"}
    assert not bad, f"bare-session failures: {bad}"
