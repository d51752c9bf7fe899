"""Physical-plan regression tests — the 100 TB concerns.

Asserts what .explain must show: predicate pushdown into the parquet
scan, column pruning through the Arrow UDF stages (bytes never read
unless needed), broadcast for the small join side, cascade evaluated
as Catalyst expressions (no Python eval node), and no pixel bytes
flowing into any exchange.
"""

from __future__ import annotations

import os

import pytest


def _fmt(df) -> str:
    jdf = df._jdf
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return jdf.queryExecution().explainString(mode)


SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _clear_cache(spark):
    # Other test modules cache the smoke images table; the cache manager
    # would substitute that full-schema InMemoryRelation into our plans,
    # hiding the pruned parquet scan these tests assert on.
    spark.catalog.clearCache()
    yield


def test_filter_pushdown_and_pruning(spark):
    from qfilter.corpus import lineitem_rollup

    plan = _fmt(lineitem_rollup(spark, SF))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1][:200]
    read = plan.split("ReadSchema", 1)[1][:400]
    assert "l_orderkey" not in read  # unused columns pruned from scan


def test_broadcast_join(spark):
    from qfilter.corpus import top_customers

    plan = _fmt(top_customers(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_bytes_pruned_when_not_needed(spark, smoke_dir):
    from qfilter.features import with_scrubbed_caption

    img = spark.read.parquet(os.path.join(smoke_dir, "images.parquet"))
    df = with_scrubbed_caption(img.select("image_id", "caption")).select(
        "image_id", "caption_scrubbed"
    )
    read = _fmt(df).split("ReadSchema", 1)[1][:300]
    assert "bytes" not in read and "binary" not in read


def test_phash_pruned_from_label_only_plan(spark, smoke_dir):
    from qfilter.cascade import with_labels
    from qfilter.features import with_all_features

    img = spark.read.parquet(os.path.join(smoke_dir, "images.parquet"))
    df = with_labels(with_all_features(img)).select("image_id", "category")
    read = _fmt(df).split("ReadSchema", 1)[1][:500]
    assert "phash" not in read  # pruning works through the UDF stages


def test_cascade_is_pure_catalyst(spark, smoke_dir):
    """The when-chain must not introduce any extra Python eval — only
    the three Arrow UDF stages (image/caption/scrub) appear."""
    from qfilter.cascade import with_labels
    from qfilter.features import with_all_features

    img = spark.read.parquet(os.path.join(smoke_dir, "images.parquet"))
    plan = _fmt(with_labels(with_all_features(img)))
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    assert plan.count("ArrowEvalPython") <= 3


def test_no_bytes_in_exchange(spark, smoke_dir):
    """Dedup after feature stage: no binary column crosses a shuffle."""
    from qfilter.dedup import phash_winners
    from qfilter.features import with_image_features

    img = spark.read.parquet(os.path.join(smoke_dir, "images.parquet"))
    feats = with_image_features(img)  # drops bytes
    plan = _fmt(phash_winners(feats.select("image_id", "phash")))
    ex = [seg for seg in plan.split("\n") if "Exchange" in seg]
    assert ex, "expected a shuffle for the aggregation"
    assert "bytes" not in plan.split("Exchange", 1)[1]


def test_salted_agg_two_phases(spark, smoke_dir):
    from qfilter.dedup import phash_winners

    img = spark.read.parquet(os.path.join(smoke_dir, "images.parquet"))
    plan = _fmt(phash_winners(img))
    # two-phase: partial agg on (phash, salt), final on phash (min over
    # strings plans as SortAggregate)
    n_aggs = plan.count("HashAggregate") + plan.count("SortAggregate")
    assert n_aggs >= 4
    assert "_salt" in plan  # the salt actually reaches the exchange key


def test_event_sessions_single_shuffle(spark):
    """Sessionization must shuffle ONCE on user_id: both window passes
    (lag, cumsum) and the final per-session agg reuse the same hash
    partitioning, so exactly one Exchange appears in the plan."""
    from qfilter.corpus import event_sessions

    plan = _fmt(event_sessions(spark, SF))
    # count actual Exchange NODE HEADERS — "(7) Exchange" at line start
    # — rather than the literal ") Exchange" substring, which breaks if
    # AQE renames the node (AQEShuffleRead) or explain renumbering puts
    # ") Exchange" inside an Arguments line
    import re

    n_exchanges = len(
        re.findall(r"^\(\d+\) Exchange\b", plan, flags=re.MULTILINE)
    )
    assert n_exchanges == 1, f"expected 1 shuffle, plan has {n_exchanges}:\n{plan}"
    assert "hashpartitioning(user_id" in plan


def test_weighted_median_no_full_table_window_sort(spark):
    """The cumulative-weight window must run over the per-(type, value)
    aggregate, never over the raw events table: the plan's Sort for the
    window has to sit ABOVE a HashAggregate on (event_type, value), so
    only distinct values — not every event row — funnel into the
    ~5 event_type sort partitions."""
    from qfilter.corpus import weighted_median_value

    plan = _fmt(weighted_median_value(spark, SF))
    assert "Window" in plan
    # pass-1 aggregate keyed on both columns exists
    agg_keyed_on_value = any(
        "event_type" in ln and "value" in ln
        for ln in plan.splitlines()
        if ln.startswith("Keys")
    )
    assert agg_keyed_on_value, plan
    # and every Sort consumes the aggregated table, never raw events:
    # a raw-table sort would list event_id/user_id/ts in its Input
    import re

    for m in re.finditer(r"^\(\d+\) Sort\n(Input[^\n]*)", plan, flags=re.MULTILINE):
        inp = m.group(1)
        assert "event_id" not in inp and "user_id" not in inp, plan


def test_bucketed_join_no_shuffle(spark, smoke_dir):
    """Co-located joins: two tables bucketed on image_id must
    sort-merge-join with ZERO Exchange nodes (the 100 TB layout for
    repeated key joins), while the same join on plain parquet shuffles
    both sides.  Auto-broadcast is disabled so the small fixture
    doesn't hide the proof behind a BroadcastHashJoin."""
    import re

    from qfilter.catalog import write_bucketed

    img = spark.read.parquet(os.path.join(smoke_dir, "images.parquet")).select(
        "image_id", "caption"
    )
    lab = spark.read.parquet(os.path.join(smoke_dir, "labels_ref.parquet")).select(
        "image_id", "keep"
    )
    write_bucketed(img, "tp_b_images", ["image_id"], 8)
    write_bucketed(lab, "tp_b_labels", ["image_id"], 8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        def n_exchanges(df):
            plan = _fmt(df)
            return len(re.findall(r"^\(\d+\) Exchange\b", plan, flags=re.M)), plan

        nb, plan_b = n_exchanges(
            spark.table("tp_b_images").join(spark.table("tp_b_labels"), "image_id")
        )
        nu, _ = n_exchanges(img.join(lab, "image_id"))
        assert "SortMergeJoin" in plan_b, plan_b
        assert nb == 0, f"bucketed join shuffled ({nb} exchanges):\n{plan_b}"
        assert nu >= 2  # plain parquet shuffles both sides
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS tp_b_images")
        spark.sql("DROP TABLE IF EXISTS tp_b_labels")


def test_aqe_splits_skewed_join(spark):
    """Skewed keys at scale: AQE must detect the hot partition in a
    sort-merge join and split it (SortMergeJoin(skew=true) +
    'AQEShuffleRead … skewed' in the FINAL adaptive plan) — the
    runtime half of the skew story next to the manual salting the
    dedup path uses.  Thresholds are lowered so the fixture-sized
    shuffle trips the same code path a TB-scale hot key would."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = (
            spark.range(0, 300000)
            .withColumn(
                "k",
                F.when(F.col("id") % 100 < 95, F.lit(7)).otherwise(
                    F.col("id") % 500
                ),
            )
            .withColumn(
                "pad", F.concat(F.lit("x" * 100), F.col("id").cast("string"))
            )
        )
        right = (
            spark.range(0, 500)
            .withColumn("k", F.col("id"))
            .withColumn("rv", F.col("id") * 2)
        )
        j = left.join(right, "k").select(F.sum(F.length("pad")))
        j.collect()  # same QueryExecution -> final adaptive plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan
        assert "skewed" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_winnow_single_text_shuffle(spark):
    """Winnowing is doc-local: the ONLY Exchange in the plan is the
    doc_id repartition of the raw text rows (feeding the cached
    gram-hash projection); selection/explode add no shuffle.  The
    naive relational form would shuffle a w-fold explode of every
    gram — ~100x the bytes."""
    import re

    from qfilter.corpus import winnow_fingerprints

    plan = _fmt(winnow_fingerprints(spark, SF))
    n_exchanges = len(
        re.findall(r"^\(\d+\) Exchange\b", plan, flags=re.MULTILINE)
    )
    assert n_exchanges == 1, f"expected 1 shuffle, plan has {n_exchanges}:\n{plan}"
    assert "hashpartitioning(doc_id" in plan


def test_substring_spans_window_agg_share_shuffle(spark):
    """substring_dup_spans: the gaps-and-islands window partitioned on
    (id1, id2, diag) and the span groupBy on (id1, id2, diag, grp)
    must share ONE clustered exchange — the groupBy keys are a
    superset of the window partition keys, so EnsureRequirements
    reuses the partitioning.  A second pair-keyed exchange (one
    carrying `grp`) would mean the run merge reshuffles every match
    row a second time — at 100 TB the match table is the largest
    intermediate in the operator."""
    import re

    from qfilter.corpus import substring_dup_spans

    plan = _fmt(substring_dup_spans(spark, SF))
    pair_parts = [
        ln for ln in plan.splitlines() if "hashpartitioning(id1" in ln
    ]
    assert len(pair_parts) == 1, f"expected one pair-keyed exchange:\n{plan}"
    assert "grp" not in pair_parts[0]
    n_ex = len(re.findall(r"^\(\d+\) Exchange\b", plan, flags=re.M))
    # h-agg + cap-join + self-join sides + the single pair exchange;
    # anything beyond that indicates a lost partitioning reuse
    assert n_ex <= 5, f"unexpected shuffle count {n_ex}:\n{plan}"


def test_trigram_df_cap_partial_aggregates(spark):
    """trigram_jaccard_pairs' document-frequency cap is a groupBy on the
    shingle hash with a partial (map-side) step, not a count() window:
    a window over h has no partial aggregation, so every row of a
    corpus-common shingle would land in one task."""
    import re

    from qfilter.corpus import trigram_jaccard_pairs

    plan = _fmt(trigram_jaccard_pairs(spark, SF))
    assert not re.search(r"^\(\d+\) Window\b", plan, flags=re.M), plan
    partial_on_h = [
        node
        for node in plan.split("\n\n")
        if re.match(r"\(\d+\) HashAggregate\n", node)
        and re.search(r"^Keys \[1\]: \[h#\d+L?\]$", node, flags=re.M)
        and re.search(r"^Functions \[1\]: \[partial_", node, flags=re.M)
    ]
    assert partial_on_h, f"no partial aggregate keyed on the shingle hash:\n{plan}"
