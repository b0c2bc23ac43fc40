"""Capture .explain("formatted") for bench queries into plans/<round>/.

Round dir from $PLANS_ROUND (default r09).

Queries built over ``graph.personalized_pagerank`` run its one
seed-ball collect while the plan is BUILT (the operator is eager and
iterates on the driver), so their captured plan shows the rank vector
as a LocalTableScan, not the PPR computation."""
import os, sys, time
sys.path.insert(0, "/root/repo")
os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROUND = os.environ.get("PLANS_ROUND", "r09")
os.makedirs(f"/root/repo/plans/{ROUND}", exist_ok=True)
from memories_spark.session import get_spark
from memories_spark.plans.registry import QUERIES

suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
names = sys.argv[2].split(",") if len(sys.argv) > 2 else [n for n, s in QUERIES.items() if s.bench]
spark = get_spark(app_name="explain-capture")
spark.sparkContext.setLogLevel("ERROR")
sf = os.environ["SPARK_GRAFT_SF_DIR"]
for n in names:
    t0 = time.perf_counter()
    try:
        plan = QUERIES[n].fn(spark, sf)._sc._jvm.PythonSQLUtils.explainString(
            QUERIES[n].fn(spark, sf)._jdf.queryExecution(), "formatted")
    except Exception:
        import io, contextlib
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            QUERIES[n].fn(spark, sf).explain("formatted")
        plan = buf.getvalue()
    dt = time.perf_counter() - t0
    with open(f"/root/repo/plans/{ROUND}/{n}_{suffix}.txt", "w") as f:
        f.write(plan)
    print(f"{dt:6.2f}s  {len(plan):8d}B  {n}", flush=True)
