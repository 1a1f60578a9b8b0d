"""Pinned golden values for Spark's engine-native hash family.

xxhash64 / hash (murmur3) / crc32 have no DuckDB counterpart, so they
can never ride an oracled query (q19b carried them as unchecked output
columns until round 5's KMV upgrade dropped them). This pins the whole
family to frozen constants instead: the algorithms are seed-fixed parts
of Spark's public contract (xxhash64 and murmur3 with seed 42, crc32
over raw bytes), the same primitives the crawl's url_hash (A5) and
cuckoo key derivation build on — a silent behavior change here
would corrupt every persisted seen-filter shard at resume time, so it
must fail a test, not a crawl.
"""

from pyspark.sql import functions as F

# (input, xxhash64(v), hash(v), crc32(bytes(v)), xxhash64(7L, v))
GOLDEN = [
    ("http://a.onion/x", -3622745728348234411, -1587936507, 668612900,
     1606560541687420816),
    ("caption one", -7548970749172176004, -1866684883, 2696740716,
     -6101231905822863619),
    ("", -7444071767201028348, 142593372, 0, -783033954723276226),
]


def test_spark_hash_family_pinned(spark):
    df = spark.createDataFrame([(v,) for v, *_ in GOLDEN], ["v"])
    got = {
        r["v"]: (r["xx"], r["mm"], r["crc"], r["xx2"])
        for r in df.select(
            "v",
            F.xxhash64("v").alias("xx"),
            F.hash("v").alias("mm"),
            F.crc32(F.col("v").cast("binary")).alias("crc"),
            # multi-arg form: the crawl derives per-shard bloom/cuckoo
            # probe keys as xxhash64(salt, url_hash)
            F.xxhash64(F.lit(7).cast("long"), F.col("v")).alias("xx2"),
        ).collect()
    }
    for v, xx, mm, crc, xx2 in GOLDEN:
        assert got[v] == (xx, mm, crc, xx2), (v, got[v])
