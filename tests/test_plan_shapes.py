"""Physical-plan regression tests: the scale-critical properties —
pushdown, pruning, broadcast choice, shuffle-freedom — must survive
refactors.  These read `.explain` output, the same evidence a human
would check before a 100 TB run."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from wikiextractor_spark.queries import REGISTRY


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_token_stats_prunes_columns(spark, sf_dir):
    p = plan_of(REGISTRY["ta_text_profile"][0](spark, sf_dir))
    read = [l for l in p.splitlines() if "ReadSchema" in l]
    assert read and "doc_id" in read[0] and "text" in read[0]
    assert "lang" not in read[0] and "source" not in read[0]


def test_pricing_summary_pushes_filter(spark, sf_dir):
    p = plan_of(REGISTRY["rel_pricing_summary"][0](spark, sf_dir))
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any("l_shipdate" in l for l in pushed)


def test_region_revenue_broadcasts_dims(spark, sf_dir):
    p = plan_of(REGISTRY["rel_region_revenue"][0](spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 4


def test_wiki_pipeline_is_shuffle_free(spark, tmp_path):
    """A dump with a scan split per core plans no shuffle at all; a
    single-file dump (one split) adds exactly the one raw-text
    spread before the UDF stage."""
    import re

    from wikiextractor_spark.pipeline import extract_documents

    def write_dump(path, page_id):
        path.write_text(
            "<mediawiki><siteinfo><base>https://x.org/wiki/M</base>"
            f"</siteinfo><page><title>A{page_id}</title><id>{page_id}</id>"
            '<revision><id>9</id><text xml:space="preserve">body</text>'
            "</revision></page></mediawiki>",
            encoding="utf8",
        )

    def exchanges(path):
        # formatted plans print each node twice (tree + detail): count
        # node headers, not substring occurrences
        p = plan_of(extract_documents(spark, str(path)))
        return len(re.findall(r"\(\d+\) Exchange", p))

    cores = spark.sparkContext.defaultParallelism
    parts = tmp_path / "parts"
    parts.mkdir()
    for i in range(cores):
        write_dump(parts / f"part-{i}.xml", i + 1)
    assert exchanges(parts) == 0

    single = tmp_path / "dump.xml"
    write_dump(single, 1)
    assert exchanges(single) == (1 if cores > 1 else 0)


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Pre-bucketing both join sides on the key (same bucket count)
    lets a sort-merge join read co-located buckets with NO shuffle —
    the 100 TB pattern for repeated joins on the same key (write once
    bucketed, join many times shuffle-free)."""
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    for name in ("bt_a", "bt_b"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(8, "k")
            .sortBy("k")
            .option("path", str(tmp_path / name))
            .format("parquet")
            .mode("overwrite")
            .saveAsTable(name)
        )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bt_a").join(
            spark.table("bt_b").withColumnRenamed("v", "v2"), "k"
        )
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for name in ("bt_a", "bt_b"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_ann_broadcasts_queries(spark, sf_dir):
    # the battery slot returns an eagerly-checkpointed result (so its
    # temp index dir can be deleted), which hides the probe plan —
    # assert the broadcast on the operators themselves: the tiny
    # query side must broadcast in both the brute-force baseline and
    # the persisted-index probe
    from wikiextractor_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p = plan_of(similarity.ann_brute_force_topk(emb, query_ids=[0, 1, 2], k=5))
    assert "Broadcast" in p

    import shutil
    import tempfile

    index_dir = tempfile.mkdtemp(prefix="wx_ivf_plan_")
    try:
        similarity.build_ivf_index(emb, index_dir, k=4, iters=1)
        p = plan_of(
            similarity.ann_ivf_topk_indexed(
                spark, index_dir, query_ids=[0, 1], k=3, nprobe=2
            )
        )
        assert "Broadcast" in p
    finally:
        shutil.rmtree(index_dir, ignore_errors=True)


@pytest.mark.parametrize("fn_name", ["ann_ivf_topk", "ann_lsh_topk"])
def test_ann_topk_one_corpus_projection(spark, sf_dir, fn_name):
    """The in-memory IVF and LSH top-k carry the bucket (centroid or
    LSH bucket) in the same projection as the vector: the plan scans
    the corpus twice — candidates and query rows — and has one join,
    the broadcast probe equi-join.  Joining a narrow ``(id, bucket)``
    projection back onto the corpus would add two scans and two
    corpus-grain joins."""
    import re

    from wikiextractor_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    kw = {}
    if fn_name == "ann_ivf_topk":
        cents = similarity.ivf_centroids(emb, k=4, iters=0)
        kw = {"nprobe": 2, "centroids": cents}
    p = plan_of(getattr(similarity, fn_name)(emb, [0, 1], k=3, **kw))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 2
    assert len(re.findall(r"\(\d+\) \w*Join", p)) == 1


def test_native_clean_no_python(spark, sf_dir):
    p = plan_of(REGISTRY["wx_clean_native"][0](spark, sf_dir))
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_no_unbounded_cartesian_in_any_battery_query(spark):
    """Global plan hygiene over ALL 50 battery queries: no
    CartesianProduct anywhere, and BroadcastNestedLoopJoin only in
    the known set whose non-equi side is tiny BY CONSTRUCTION —
    bounded-id all-pairs verification grains (dd_embedding_neighbor,
    which carries the former sim_cosine_pairs family), the
    broadcast-queries ANN scan (sim_ann_topk), and the 1-row
    corpus-total cross join (ta_term_stats).  A new query that
    plans an unbounded cartesian fails here before it ever reaches
    the driver."""
    import contextlib
    import io

    from wikiextractor_spark.queries import REGISTRY

    BNLJ_BOUNDED_BY_DESIGN = {
        "sim_ann_topk",
        "dd_embedding_neighbor",
        "ta_term_stats",
    }
    offenders = {}
    for name, (fn, _oracle) in REGISTRY.items():
        df = fn(spark, "/root/testdata/sf0.001")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif (
            "BroadcastNestedLoopJoin" in plan
            and name not in BNLJ_BOUNDED_BY_DESIGN
        ):
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, offenders


def test_dedup_by_url_single_pass_single_shuffle(spark, sf_dir):
    """dedup_by_url's keep-unparseable default must stay ONE pass over
    the source (surrogate-key branch, not a self-union re-scan) and
    one window shuffle on the canonical key."""
    import re

    from wikiextractor_spark.functions.urls import dedup_by_url

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.concat(F.lit("https://x.org/p/"), F.col("doc_id")).alias("url")
    )
    p = plan_of(dedup_by_url(docs))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "CartesianProduct" not in p


def test_boilerplate_removal_no_cartesian(spark, sf_dir):
    """The boilerplate-line membership join must never degenerate to a
    cartesian/nested-loop product."""
    from wikiextractor_spark.operators.spans import remove_boilerplate_lines

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    p = plan_of(remove_boilerplate_lines(docs))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_repeated_spans_no_window_exchange(spark, sf_dir):
    """The corpus-repeated gram count must go through groupBy (map-side
    partial aggregation absorbs hot grams) + a membership join — NEVER
    a window over gram_hash, which ships every occurrence of a hot
    gram to one task with no combine (VERDICT r7 straggler)."""
    from wikiextractor_spark.operators.spans import (
        repeated_span_positions,
        trim_repeated_spans,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    for df in (
        repeated_span_positions(docs, n=10),
        trim_repeated_spans(docs, n=10),
    ):
        p = plan_of(df)
        assert "Window" not in p
        # partial + final count of the gram inventory
        assert "partial_count" in p
        assert "CartesianProduct" not in p


@pytest.mark.parametrize(
    "fn_name, exchanges, eager_jobs",
    [("near_duplicate_pairs", 14, 5), ("simhash_candidate_pairs", 3, 1)],
)
def test_near_dup_pair_plans_pinned(
    spark, near_dup_docs, fn_name, exchanges, eager_jobs,
):
    """The shared candidate path must keep each self path's shape:
    the number of ``Exchange`` nodes in the physical plan, and the
    number of eager jobs (sketch and candidate checkpoints) run while
    the plan is composed.  The pins are the values measured before the
    grains shared one bucket join."""
    import re

    from wikiextractor_spark.operators import dedup

    sc = spark.sparkContext
    group = f"compose-{fn_name}"
    sc.setJobGroup(group, f"compose {fn_name}")
    try:
        pairs = getattr(dedup, fn_name)(near_dup_docs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan_of(pairs)))
    assert (n_exchanges, n_jobs) == (exchanges, eager_jobs)
