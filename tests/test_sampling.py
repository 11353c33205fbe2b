"""Training-data curation operators (functions/sampling.py):
determinism, exactness and scale-shape properties."""

from pyspark.sql import functions as F

from lucene_solr_spark.functions import sampling as SMP


def test_split_deterministic_and_complete(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = SMP.split_assign(df).groupBy("split").count().collect()
    counts = {r["split"]: r["count"] for r in out}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 2000
    # 98/1/1 within loose tolerance
    assert counts["train"] > 1900
    assert 1 <= counts["val"] <= 80 and 1 <= counts["test"] <= 80
    # re-run identical (no RNG state)
    again = {r["split"]: r["count"]
             for r in SMP.split_assign(df).groupBy("split")
             .count().collect()}
    assert again == counts


def test_split_seed_changes_assignment(spark):
    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = SMP.split_assign(df, seed=0).where("split != 'train'") \
        .select("doc_id").collect()
    b = SMP.split_assign(df, seed=7).where("split != 'train'") \
        .select("doc_id").collect()
    assert {r["doc_id"] for r in a} != {r["doc_id"] for r in b}


def test_large_ids_do_not_overflow(spark):
    # 10^12-scale ids: the reduced-first hash must stay in BIGINT
    df = spark.createDataFrame(
        [(10**12 + i,) for i in range(100)], "doc_id long")
    out = SMP.split_assign(df).groupBy("split").count().collect()
    assert sum(r["count"] for r in out) == 100


def test_negative_ids_split_normally(spark):
    # signed-hash id schemes: pmod keeps the split non-degenerate
    df = spark.createDataFrame(
        [(-(i + 1),) for i in range(2000)], "doc_id long")
    counts = {r["split"]: r["count"]
              for r in SMP.split_assign(df).groupBy("split")
              .count().collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > 1900


def test_stratified_sample_exact(spark):
    rows = [(i, "l%d" % (i % 4)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = SMP.stratified_sample(df, "lang", 5).collect()
    per = {}
    for r in out:
        per[r["lang"]] = per.get(r["lang"], 0) + 1
    assert per == {"l0": 5, "l1": 5, "l2": 5, "l3": 5}
    # deterministic: same rows again
    again = SMP.stratified_sample(df, "lang", 5).collect()
    assert sorted(r["doc_id"] for r in out) == \
        sorted(r["doc_id"] for r in again)


def test_pack_sequences_contiguous(spark):
    df = spark.createDataFrame(
        [(i, 300) for i in range(10)], "doc_id long, n_tokens long")
    out = {r["doc_id"]: r["bin"]
           for r in SMP.pack_sequences(df, budget=1000).collect()}
    # exclusive prefix: docs 0-3 prefix 0,300,600,900 -> bin 0;
    # docs 4-6 prefix 1200,1500,1800 -> bin 1; ...
    assert out == {0: 0, 1: 0, 2: 0, 3: 0, 4: 1, 5: 1, 6: 1,
                   7: 2, 8: 2, 9: 2}
    # oversized doc gets its own bin progression
    df2 = spark.createDataFrame(
        [(0, 2500), (1, 100)], "doc_id long, n_tokens long")
    out2 = {r["doc_id"]: r["bin"]
            for r in SMP.pack_sequences(df2, budget=1000).collect()}
    assert out2 == {0: 0, 1: 2}


def test_pack_sequences_sharded(spark):
    df = spark.createDataFrame(
        [(i, 600, i % 2) for i in range(8)],
        "doc_id long, n_tokens long, shard long")
    out = SMP.pack_sequences(df, budget=1000, shard_col="shard")
    rows = {(r["shard"], r["doc_id"]): r["bin"] for r in out.collect()}
    # within each shard: prefix 0,600,1200,1800 -> bins 0,0,1,1
    assert rows[(0, 0)] == 0 and rows[(0, 2)] == 0
    assert rows[(0, 4)] == 1 and rows[(0, 6)] == 1
    assert rows[(1, 1)] == 0 and rows[(1, 7)] == 1


def test_pack_sequences_warns_on_large_global_window(spark, monkeypatch):
    import warnings

    import pytest

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id") \
        .withColumn("n_tokens", F.lit(7))
    est = SMP._size_estimate(df)
    assert est is not None and est > 0  # from the plan, no job
    # rows shipped from Python have no estimate: never a warning
    assert SMP._size_estimate(spark.createDataFrame([(1, 2)], "doc_id long, n long")) is None
    monkeypatch.setattr(SMP, "PACK_GLOBAL_WINDOW_WARN_BYTES", est)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # at the threshold: silent
        SMP.pack_sequences(df, budget=1000)
    monkeypatch.setattr(SMP, "PACK_GLOBAL_WINDOW_WARN_BYTES", est - 1)
    with pytest.warns(UserWarning, match="global window"):
        SMP.pack_sequences(df, budget=1000)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # sharded: no global window
        SMP.pack_sequences(df.withColumn("shard", F.col("doc_id") % 2),
                           budget=1000, shard_col="shard")


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [("mail a.b+c@d.example.com ip 10.0.0.1 tel +1 555 123 4567 "
          "acct 987654321012 keep 1234",)],
        "text string")
    out = df.select(SMP.redact_pii(F.col("text")).alias("t")) \
        .collect()[0]["t"]
    assert "<EMAIL>" in out and "<IP>" in out and "<PHONE>" in out
    assert "<ID>" in out and "keep 1234" in out
    assert "@" not in out and "987654321012" not in out
