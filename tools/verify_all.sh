#!/bin/sh
# One-stop verification: every gate the driver (and a reviewer) cares
# about, in dependency order. Run from the repo root on an IDLE machine
# (bench numbers are load-sensitive).
set -e
echo "== 1/5 pytest =="
python -m pytest tests/ -q
echo "== 2/5 full oracle-parity gate (sf0.01) =="
python tools/check.py /root/testdata/sf0.01
# optional but recommended before a round closes (slower):
#   python tools/check.py /root/testdata/sf0.1
echo "== 3/5 driver first-50 window (list(__spark_entry__.queries())[:50]) =="
python tools/check.py /root/testdata/sf0.01 --first50
echo "== 4/5 driver contract (vanilla session) =="
python - <<'PYEOF'
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[4]").getOrCreate()
import __spark_entry__ as e
assert len(e.entry(spark).collect()) > 0
q, o = e.queries(), e.oracle_sql()
assert set(o) <= set(q)
assert all("read_parquet" not in s for s in o.values())
print(f"contract OK: {len(q)} queries, {len(o)} oracles")
PYEOF
echo "== 5/5 bench (sf0.1) =="
python bench.py 2>/dev/null
