import json
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bisque_spark.plans.crawl import read_images, read_order, run_crawl
from bisque_spark.session import get_spark
from bisque_spark.synth import World, seed_urls

spark = get_spark(master="local[8]", shuffle_partitions=8)
world = World(n_hosts=10, n_seeds=12)
wd = tempfile.mkdtemp(prefix="verify_crawl_")
res = run_crawl(spark, world, seed_urls(world), workdir=wd, max_epochs=3)
print("EPOCHS RUN:", res["epochs"])
images = read_images(spark, res)
order = read_order(spark, res)
print("IMAGES ROWS:", images.count())
print("ORDER ROWS:", order.count())
r = images.orderBy("image_id").first()
print("SAMPLE IMAGE:", r["image_id"], "| fmt:", r["fmt"], "| w×h:", r["w"], "x",
      r["h"], "| caption:", repr(r["caption"][:60]))
for r in order.orderBy("epoch", "host", "host_rank").limit(4).collect():
    print("ORDER:", r["epoch"], r["host"], r["host_rank"], r["url"])
for e in range(res["epochs"]):
    print("LINEAGE", e,
          json.load(open(os.path.join(wd, f"epoch={e:05d}", "lineage.json"))))

wd2 = tempfile.mkdtemp(prefix="verify_resume_")
run_crawl(spark, world, seed_urls(world), workdir=wd2, max_epochs=1)
res2 = run_crawl(spark, world, seed_urls(world), workdir=wd2, max_epochs=3,
                 resume=True)
o1 = sorted((r["epoch"], r["host"], r["host_rank"], r["url"])
            for r in read_order(spark, res).collect())
o2 = sorted((r["epoch"], r["host"], r["host_rank"], r["url"])
            for r in read_order(spark, res2).collect())
print("PROBE resume bit-identity:", "OK" if o1 == o2 else "MISMATCH")

wd3 = tempfile.mkdtemp(prefix="verify_empty_")
try:
    res3 = run_crawl(spark, world, [], workdir=wd3, max_epochs=2)
    print("PROBE empty seeds: epochs =", res3["epochs"], "(no crash)")
except Exception as ex:
    print("PROBE empty seeds: EXC", type(ex).__name__, str(ex)[:150])

# ---- full Cho loop (VERDICT r5 #4): crawl A's committed link graph →
# authority; crawl B re-ordered with the FULL stack on (authority +
# sitemap seeding + trap guard), matched against the single-process
# oracle crawler.
sys.path.insert(0, os.path.join(REPO, "tests"))
from bisque_spark.operators.linkrank import authority_from_crawl  # noqa: E402
from bisque_spark.operators.trapguard import TrapGuard  # noqa: E402
from bisque_spark.util import release_caches  # noqa: E402
from oracle_crawler import crawl_oracle  # noqa: E402

guard = TrapGuard()
auth_df = authority_from_crawl(spark, res, iters=6)
auth = {r["url_hash"]: r["rank"] for r in auth_df.collect()}
wd_cho = tempfile.mkdtemp(prefix="verify_cho_")
res_b = run_crawl(
    spark, world, seed_urls(world), workdir=wd_cho, max_epochs=3,
    authority=auth_df, authority_weight=8.0, use_sitemaps=True,
    trap_guard=guard,
)
oracle_b = crawl_oracle(
    world, seed_urls(world), max_epochs=3,
    authority=auth, authority_weight=8.0, use_sitemaps=True,
    trap_guard=guard,
)
got_b = sorted(
    (r["epoch"], r["host"], r["host_rank"], float(r["priority"]),
     r["url_hash"], r["url"])
    for r in read_order(spark, res_b).collect()
)
want_b = sorted(
    (e, h, rk, float(p), uh, u) for (e, h, rk, p, uh, u) in oracle_b["order"]
)
print("PROBE cho-loop crawl-B order == oracle:",
      "OK" if got_b == want_b else "MISMATCH",
      f"({len(got_b)} rows)")
seq_a = sorted((r["epoch"], r["host"], r["host_rank"], r["url_hash"])
               for r in order.collect())
seq_b = sorted((e, h, rk, uh) for (e, h, rk, p, uh, u) in got_b)
print("PROBE authority reorders fetches:",
      "OK" if seq_a != seq_b else "VACUOUS")

release_caches()

wd4 = tempfile.mkdtemp(prefix="verify_garbage_")
try:
    res4 = run_crawl(
        spark, world,
        [("ftp://x/y", 0), ("not a url", 1), ("mailto:a@b", 2)],
        workdir=wd4, max_epochs=2,
    )
    print("PROBE garbage seeds: epochs =", res4["epochs"])
except Exception as ex:
    print("PROBE garbage seeds: EXC", type(ex).__name__, str(ex)[:150])
spark.stop()
print("DRIVE COMPLETE")
