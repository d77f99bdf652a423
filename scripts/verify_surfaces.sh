#!/bin/bash
# Local mirror of .claude/skills/verify: drive all six surfaces
# end-to-end. Exits non-zero on the first failing surface.
set -e
cd /root/repo

echo "=== surface 1: library boundary (from /tmp) ==="
(cd /tmp && python - <<'EOF'
import sys
sys.path.insert(0, "/root/repo")
from pdf_extractor_spark.ref_extractor.dispatch import extract
from pdf_extractor_spark.corpus.generator import generate_rows
n = 0
for r in generate_rows(7, 20):
    out = extract(r.html)
    n += 1
assert n == 20
print("surface1 OK:", n, "docs")
EOF
)

echo "=== surface 2: golden-builder CLI ==="
rm -rf /tmp/vg
python -m pdf_extractor_spark.corpus.build --out /tmp/vg 2>&1 | tail -1
python - <<'EOF'
import duckdb
n = duckdb.sql("SELECT count(*) FROM '/tmp/vg/goldens.parquet'").fetchone()[0]
p = duckdb.sql("SELECT count(*) FROM '/tmp/vg/pages_micro.parquet'").fetchone()[0]
assert n == 200 and p == 200, (n, p)
print("surface2 OK: goldens", n, "pages", p)
EOF

echo "=== surface 3: Spark extract job + resume no-op ==="
rm -rf /tmp/vwh
python -m pdf_extractor_spark.jobs.extract_job \
  --pages /tmp/vg/pages_micro.parquet --warehouse /tmp/vwh 2>/dev/null | tail -1
python -m pdf_extractor_spark.jobs.extract_job \
  --pages /tmp/vg/pages_micro.parquet --warehouse /tmp/vwh 2>/dev/null | tail -1 \
  | python -c "import sys, json; d = json.loads(sys.stdin.read()); \
assert d['processed'] == [] and len(d['skipped']) == 8, d; print('resume no-op OK')"
python - <<'EOF'
import duckdb
n = duckdb.sql("SELECT count(*), count(DISTINCT url) FROM '/tmp/vwh/extracted/data/**/*.parquet'").fetchone()
assert n == (200, 200), n
print("surface3 OK: rows", n[0])
EOF
# maintenance + publish knobs: sort-clustered rewrite, orphan GC, tag
python -m pdf_extractor_spark.jobs.extract_job \
  --pages /tmp/vg/pages_micro.parquet --warehouse /tmp/vwh \
  --optimize-sort url --gc-orphans 259200 --tag-output verified \
  2>/dev/null | tail -1 \
  | python -c "import sys, json; d = json.loads(sys.stdin.read()); \
assert 'optimize_snapshot_id' in d and 'tagged_snapshot' in d \
  and 'gc_orphans' in d, d; print('surface3 maintenance knobs OK')"
python - <<'EOF'
import sys
sys.path.insert(0, "/root/repo")
from pdf_extractor_spark.tables.icetable import IceTable
t = IceTable("/tmp/vwh/extracted")
import duckdb
live = t.files()
# probe from the LIVE manifest file list — the raw data/ glob also
# matches superseded pre-rewrite files kept for time travel, which
# would double every row and shift the intended percentile
probe = duckdb.sql(
    f"SELECT url FROM read_parquet({live!r}) ORDER BY url "
    "LIMIT 1 OFFSET 180"
).fetchone()[0]
pruned = t.files(where=[("url", ">=", probe)])
assert 0 < len(pruned) < len(live), (len(pruned), len(live))
assert t.tags().get("verified") == t.snapshot_id()
print("surface3 sort-cluster skipping OK:", len(live), "->", len(pruned))
EOF
# per-date resume: land one new day in the pages table, then the re-run
# extracts exactly that day and skips the 8 older ones
NEW_DAY=$(python - <<'EOF' 2>/dev/null
import datetime as dt
from pyspark.sql import SparkSession, functions as F
from pdf_extractor_spark.tables.icetable import IceTable
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC").getOrCreate())
pages = IceTable("/tmp/vwh/pages")
new_day = dt.date.fromisoformat(max(pages.partitions())) + dt.timedelta(days=1)
src = spark.read.parquet("/tmp/vg/pages_micro.parquet")
last = src.agg(F.max(F.to_date("warc_ts"))).first()[0]
shift = (new_day - last).days
day = (src.filter(F.to_date("warc_ts") == F.lit(last))
       .withColumn("url", F.concat("url", F.lit("?day=new")))
       .withColumn("warc_ts", F.col("warc_ts") + F.expr(f"INTERVAL {shift} DAYS"))
       .withColumn("partition_date", F.to_date("warc_ts")))
pages.append(day)
spark.stop()
print(new_day.isoformat())
EOF
)
python -m pdf_extractor_spark.jobs.extract_job \
  --pages /tmp/vg/pages_micro.parquet --warehouse /tmp/vwh 2>/dev/null | tail -1 \
  | NEW_DAY="$NEW_DAY" python -c "import os, sys, json; \
d = json.loads(sys.stdin.read()); \
assert d['processed'] == [os.environ['NEW_DAY']] and len(d['skipped']) == 8 \
  and not d['failed'], d; \
print('surface3 per-date resume OK: processed', d['processed'], 'skipped', len(d['skipped']))"
# lineage counts are measured: rows_in from the pages footers, rows_out
# observed on the commit; both must equal the date's pages rows
python - <<'EOF'
import duckdb
from pdf_extractor_spark.plans.lineage import LineageLog
from pdf_extractor_spark.tables.icetable import IceTable
pages = IceTable("/tmp/vwh/pages")
recs = LineageLog("/tmp/vwh/lineage").records()
ok = [r for r in recs if r["status"] == "ok"]
assert len(ok) == 9 and all("error_msg" in r for r in recs), recs
for r in ok:
    d = r["partition_date"].isoformat()
    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet({pages.files([d])!r})"
    ).fetchone()[0]
    assert r["rows_in"] == r["rows_out"] == n > 0, (d, r, n)
    assert r["error_msg"] is None, r
print("surface3 lineage counts OK: rows_in == rows_out == pages rows on",
      len(ok), "dates")
EOF
# the output is a function of the input snapshot: an upsert moves every
# url of the oldest date to a new date, the re-run extracts both (the
# emptied one to zero rows), and the live extracted files must then hold
# exactly the pages urls, each once
MOVED=$(python - <<'EOF' 2>/dev/null
import datetime as dt
from pyspark.sql import SparkSession, functions as F
from pdf_extractor_spark.tables.icetable import IceTable
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC").getOrCreate())
pages = IceTable("/tmp/vwh/pages")
old, last = pages.partitions()[0], pages.partitions()[-1]
shift = (dt.date.fromisoformat(last) - dt.date.fromisoformat(old)).days + 1
moved = (pages.read(spark, partitions=[old])
         .withColumn("warc_ts", F.col("warc_ts") + F.expr(f"INTERVAL {shift} DAYS"))
         .withColumn("partition_date", F.to_date("warc_ts")))
pages.upsert(spark, moved, keys=["url"])
spark.stop()
print(old, pages.partitions()[-1])
EOF
)
python -m pdf_extractor_spark.jobs.extract_job \
  --pages /tmp/vg/pages_micro.parquet --warehouse /tmp/vwh 2>/dev/null | tail -1 \
  | MOVED="$MOVED" python -c "import os, sys, json; \
d = json.loads(sys.stdin.read()); \
assert d['processed'] == os.environ['MOVED'].split() and not d['failed'], d; \
print('surface3 emptied-date re-run OK: processed', d['processed'])"
python - <<'EOF'
import duckdb
from pdf_extractor_spark.tables.icetable import IceTable
pages = IceTable("/tmp/vwh/pages").files()
ext = IceTable("/tmp/vwh/extracted").files()
p = duckdb.sql(f"SELECT count(*), count(DISTINCT url) FROM read_parquet({pages!r})").fetchone()
e = duckdb.sql(f"SELECT count(*), count(DISTINCT url) FROM read_parquet({ext!r})").fetchone()
diff = duckdb.sql(
    f"SELECT count(*) FROM ((SELECT url FROM read_parquet({ext!r}) "
    f"EXCEPT SELECT url FROM read_parquet({pages!r})) UNION ALL "
    f"(SELECT url FROM read_parquet({pages!r}) "
    f"EXCEPT SELECT url FROM read_parquet({ext!r})))"
).fetchone()[0]
assert e == p and p[0] == p[1] and diff == 0, (e, p, diff)
print("surface3 whole-table OK: extracted rows == distinct urls == pages rows ==", p[0])
EOF

echo "=== surface 4: driver contract (full sweep, sf0.01) ==="
python scripts/full_sweep.py /root/testdata/sf0.01 2>/dev/null | tail -2

echo "=== surface 5: bench (sf0.01, one JSON line) ==="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python bench.py 2>/dev/null | tail -1 \
  | python -c "import sys, json; d = json.loads(sys.stdin.readline()); \
print('surface5 OK:', d['metric'], d['value'], d['unit'], '| queries:', len(d['queries']))"

echo "=== surface 6: corpus job (capstone, deterministic) ==="
rm -rf /tmp/vcorpus /tmp/vcorpus2
python -m pdf_extractor_spark.jobs.corpus_job \
  --warehouse /tmp/vwh --out /tmp/vcorpus --budget 15 2>/dev/null | tail -1
python -m pdf_extractor_spark.jobs.corpus_job \
  --warehouse /tmp/vwh --out /tmp/vcorpus2 --budget 15 2>/dev/null >/dev/null
python - <<'EOF'
import duckdb
a = sorted(duckdb.sql("SELECT url FROM read_json_auto('/tmp/vcorpus/part-*.json.gz')").df().url)
b = sorted(duckdb.sql("SELECT url FROM read_json_auto('/tmp/vcorpus2/part-*.json.gz')").df().url)
assert a == b and len(a) == len(set(a)) and len(a) > 0, (len(a), len(b))
print("surface6 OK:", len(a), "docs, deterministic re-run identical")
EOF
# pinned build: --warehouse-tag reads the tag surface 3 published
rm -rf /tmp/vcorpus3
python -m pdf_extractor_spark.jobs.corpus_job \
  --warehouse /tmp/vwh --out /tmp/vcorpus3 --budget 15 \
  --warehouse-tag verified 2>/dev/null | tail -1 \
  | python -c "import sys, json; d = json.loads(sys.stdin.read()); \
assert d['warehouse_snapshot'] is not None and d['rows_exported'] > 0, d; \
print('surface6 pinned build OK: snapshot', d['warehouse_snapshot'])"

echo "=== ALL SIX SURFACES GREEN ==="
