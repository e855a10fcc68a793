"""Stage-by-stage timing of the north-rule frontier pipeline."""
import os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from crawler_apple_podcast_spark.functions.urls import canonicalize_url
from crawler_apple_podcast_spark.operators.bloom import (
    build_bloom_shards, probe_bloom, bloom_gated_anti_join)
from crawler_apple_podcast_spark.operators.politeness import politeness_gate
from crawler_apple_podcast_spark.session import get_spark
from bench import synth_frontier, warmup

n = int(float(os.environ.get("N", "2000000")))
spark = get_spark(app_name="profile", master="local[32]", shuffle_partitions=64)
spark.sparkContext.setLogLevel("ERROR")
warmup(spark, os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))

# Mirror bench_frontier: synth_frontier emits raw_url; canonicalization
# into fetch_url is part of the measured pipeline contract.
raw = synth_frontier(spark, n)
frontier = raw.select(
    canonicalize_url(F.col("raw_url")).alias("fetch_url"), "priority", "id"
)
seen = frontier.where(F.pmod(F.col("id"), F.lit(2)) == 0).select("fetch_url")

t0 = time.time()
frontier = frontier.persist()
print("canonicalize+persist", frontier.count(), round(time.time() - t0, 2))

t0 = time.time()
bloom = build_bloom_shards(seen, "fetch_url", n_shards=64, k=5, expected_items=n // 2)
print("build_bloom", round(time.time() - t0, 2))

t0 = time.time()
probed = probe_bloom(frontier.select("fetch_url", "priority"), bloom, "fetch_url")
print("probe_count", probed.where(F.col("maybe_seen")).count(), round(time.time() - t0, 2))

t0 = time.time()
fresh = bloom_gated_anti_join(frontier.select("fetch_url", "priority"), seen, bloom, "fetch_url")
print("fresh_count", fresh.count(), round(time.time() - t0, 2))

t0 = time.time()
scheduled, _def = politeness_gate(fresh, None, default_budget=100_000)
print("scheduled_count", scheduled.count(), round(time.time() - t0, 2))
