"""North-star interleaved-document pipeline (SURVEY §7.4)."""

import pytest
from pyspark.sql import functions as F

from ont_d2rq_spark.pipeline import docs as P

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def interleaved(spark):
    return P.synthesize_interleaved(spark, SF).cache()


def test_shape_matches_input_hint(interleaved):
    s = dict(interleaved.dtypes)
    assert s["doc_id"] == "string"
    assert (
        s["spans"]
        == "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )


def test_span_integrity_holds(interleaved):
    P.assert_span_integrity(interleaved)


def test_span_integrity_catches_violation(spark, interleaved):
    # reverse offsets in one doc → violation detected
    broken = interleaved.withColumn(
        "spans",
        F.transform(
            "spans",
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                (-s["offset"]).alias("offset"),
            ),
        ),
    )
    with pytest.raises(AssertionError):
        P.assert_span_integrity(broken)


def test_media_spans_null_text(interleaved):
    spans = interleaved.select(F.explode("spans").alias("s")).select("s.*")
    assert spans.filter((F.col("kind") == "image") & F.col("text").isNotNull()).count() == 0
    assert spans.filter((F.col("kind") == "text") & F.col("media_ref").isNotNull()).count() == 0
    assert spans.filter((F.col("kind") == "image") & F.col("media_ref").isNull()).count() == 0


def test_hub_docs_exist(interleaved):
    sizes = interleaved.select(F.size("spans").alias("n"))
    assert sizes.filter(F.col("n") >= P.HUB_EXTRA).count() >= 5  # ~1% of 500


def test_mentions_deterministic_and_linked(spark, interleaved):
    mentions = P.detect_mentions(interleaved)
    m1 = mentions.count()
    assert m1 > 0
    # every customer mention parses to an existing customer → all link
    links = P.link_entities(mentions, spark, SF)
    cust_mentions = mentions.filter(F.col("mention").startswith("Customer#")).count()
    cust_links = links.filter(F.col("entity_uri").contains("/customer/")).count()
    assert cust_mentions == cust_links
    assert links.filter(F.col("score") < 0.9).count() == 0


def test_build_kg_checkpointed_and_resumable(spark, tmp_path):
    root = str(tmp_path / "kg")
    kg1 = P.build_kg(spark, SF, root=root)
    n1 = kg1.count()
    assert n1 > 0
    # aliases were canonicalized: no entity/ alias URIs survive as objects
    # of ex:mentions for customer mentions
    objs = {r[0] for r in kg1.select("obj").distinct().collect()}
    assert not any("entity/Customer%23" in o for o in objs)
    assert any("/customer/" in o for o in objs)
    # resume path: identical output without recompute
    kg2 = P.build_kg(spark, SF, root=root)
    assert kg2.count() == n1
    # lineage + metrics exist for every stage
    from ont_d2rq_spark.checkpoint import read_lineage, read_metrics

    for stage in ["docs_interleaved", "mentions", "entity_links", "raw_triples", "kg_triples"]:
        assert read_lineage(spark, root, stage).count() > 0
    m = read_metrics(spark, root, "kg_triples")
    assert m.filter(F.col("pred").contains("mentions")).count() == 1


def test_materialize_partitioned_by_pred(spark, tmp_path, interleaved):
    mentions = P.detect_mentions(interleaved)
    links = P.link_entities(mentions, spark, SF)
    triples = P.mention_triples(links)
    out = str(tmp_path / "mat")
    P.materialize_triples(triples, out)
    back = spark.read.parquet(out)
    assert set(back.columns) == {"subj", "pred", "obj", "obj_datatype", "obj_lang", "is_literal"}
    import os

    parts = [d for d in os.listdir(out) if d.startswith("pred=")]
    assert len(parts) >= 2  # mentions + sameAs
    # dedup happened
    assert back.count() == back.dropDuplicates(["subj", "pred", "obj"]).count()


def test_parquet_rows_counts_partitioned_tree(spark, tmp_path):
    """A two-level partitioned directory keeps its rows in leaf
    directories; the footer count must find every one of them (and skip
    Spark's _SUCCESS marker), matching Spark's own count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({"a": [1, 1, 2, 2, 2], "b": ["x", "y", "x", "y", "y"], "v": range(5)})
    root = tmp_path / "nested"
    pq.write_to_dataset(t, str(root), partition_cols=["a", "b"])
    (root / "_SUCCESS").write_text("")
    assert P._parquet_rows(str(root), spark) == 5 == spark.read.parquet(str(root)).count()


# -- run_stage: one write job per stage, manifests from the write pass ------

STAGES = ["docs_interleaved", "mentions", "entity_links", "raw_triples",
          "canonical_map", "kg_triples"]


@pytest.fixture(scope="module")
def kg_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("kg") / "ck")
    final = P.build_kg(spark, SF, root=root)
    return root, final


def _jobs_in_group(spark, group, fn):
    """Run fn under a job group; → (its result, Spark jobs it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_run_stage_shuffle_free_stage_is_one_job(spark, tmp_path):
    from ont_d2rq_spark.checkpoint import run_stage

    root = str(tmp_path / "ck")
    out, jobs = _jobs_in_group(spark, "ck-one-job", lambda: run_stage(
        spark, root, "s", lambda: spark.range(0, 1000, 1, 4).withColumn("v", F.col("id") * 2)))
    assert jobs == 1
    assert out.count() == 1000


def test_run_stage_manifests_match_stored_rows(spark, kg_root):
    from ont_d2rq_spark.checkpoint import read_lineage, read_metrics

    root, _ = kg_root
    for stage in STAGES:
        n = spark.read.parquet(f"{root}/{stage}/data").count()
        lineage = read_lineage(spark, root, stage)
        assert lineage.agg(F.sum("rows_out")).first()[0] == n, stage
        assert {r[0] for r in lineage.select("stage").collect()} == {stage}
        m = read_metrics(spark, root, stage)
        col = "n_triples" if stage == "kg_triples" else "rows"
        assert m.agg(F.sum(col)).first()[0] == n, stage


def test_run_stage_manifest_schemas(spark, kg_root):
    from ont_d2rq_spark.checkpoint import read_lineage, read_metrics

    root, _ = kg_root
    for stage in STAGES:
        assert read_lineage(spark, root, stage).dtypes == [
            ("partition_id", "int"), ("rows_out", "bigint"), ("stage", "string")]
        want = ([("pred", "string"), ("n_triples", "bigint")] if stage == "kg_triples"
                else [("rows", "bigint"), ("stage", "string")])
        assert read_metrics(spark, root, stage).dtypes == want, stage


def test_run_stage_returns_plain_read_schema(spark, tmp_path, kg_root, interleaved):
    """The read-back skips schema inference; its schema must still be
    the one a plain read of data/ infers (nullability, nesting, order)."""
    from ont_d2rq_spark.checkpoint import run_stage

    root, final = kg_root
    assert final.schema == spark.read.parquet(f"{root}/kg_triples/data").schema
    frames = {
        "non_null": lambda: spark.range(10).withColumn(
            "s", F.struct(F.col("id").alias("a"), F.lit("x").alias("b"))),
        "nested": lambda: interleaved,
    }
    for stage, compute in frames.items():
        out = run_stage(spark, str(tmp_path), stage, compute)
        assert out.schema == spark.read.parquet(f"{tmp_path}/{stage}/data").schema, stage


def test_run_stage_empty_stage_commits_and_resumes(spark, tmp_path):
    from ont_d2rq_spark.checkpoint import read_lineage, read_metrics, run_stage

    root = str(tmp_path / "ck")
    out = run_stage(spark, root, "empty", lambda: spark.range(100).filter("id < 0"))
    assert out.count() == 0
    assert read_lineage(spark, root, "empty").agg(F.sum("rows_out")).first()[0] == 0
    assert read_metrics(spark, root, "empty").first()["rows"] == 0

    def boom():
        raise AssertionError("a committed stage must not recompute")

    again = run_stage(spark, root, "empty", boom)
    assert again.count() == 0 and again.columns == ["id"]


def test_run_stage_crash_in_forced_rerun_recomputes(spark, tmp_path):
    """A force re-run that dies mid-write must not leave the previous
    run's commit marker behind: the next resume has to recompute."""
    from ont_d2rq_spark.checkpoint import run_stage

    root = str(tmp_path / "ck")
    good = lambda: spark.range(0, 100, 1, 4)  # noqa: E731
    assert run_stage(spark, root, "s", good).count() == 100

    def crashing():
        return spark.range(0, 100, 1, 4).withColumn(
            "id", F.when(F.col("id") == 97, F.raise_error(F.lit("boom"))).otherwise(F.col("id")))

    with pytest.raises(Exception, match="boom"):
        run_stage(spark, root, "s", crashing, force=True)
    resumed = run_stage(spark, root, "s", good)
    assert resumed.count() == 100
    assert sorted(r[0] for r in resumed.collect()) == list(range(100))
