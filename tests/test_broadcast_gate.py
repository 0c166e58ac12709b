"""VERDICT r03 what's-wrong #1 'done' criterion: the vocabulary
broadcasts are size-GATED — an over-threshold name dimension must join
as a shuffle join (SortMergeJoin/ShuffledHashJoin), never a forced
BroadcastHashJoin; under the gate the broadcast hint stays."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture()
def no_auto_broadcast(spark):
    """Disable Catalyst's own size-based auto-broadcast so the test
    observes the HINT's effect, not the 10MB default threshold."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    if old_aqe is not None:
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold",
                       old_aqe)


def test_broadcast_if_small_gate():
    from pyspark.sql import functions as F  # noqa: F401

    from gitnexus_spark.plans.hints import broadcast_if_small

    class Fake:  # no Spark needed to test the decision itself
        pass

    df = Fake()
    # over the gate (or unknown): the frame comes back UNHINTED (same obj)
    assert broadcast_if_small(df, 65 << 20, 64 << 20) is df
    assert broadcast_if_small(df, -1, 64 << 20) is df


def test_dim_hint_uses_observed_rows(spark, tmp_path):
    from gitnexus_spark.plans.pipeline import KGPipeline

    pipe = KGPipeline(spark, str(tmp_path / "kg"))
    dim = spark.createDataFrame([("a",)], ["name"])
    pipe._rows["name_links"] = 100
    assert pipe._dim_hint(dim, "name_links") is not dim      # hinted
    pipe._rows["name_links"] = 10**9                          # 1e9 names
    assert pipe._dim_hint(dim, "name_links") is dim          # unhinted
    # row_factor scales the estimate (capped fuzzy-candidate fan-out)
    pipe._rows["name_links"] = (64 << 20) // 128 // 8 + 1
    assert pipe._dim_hint(dim, "name_links", row_factor=8) is dim


def test_link_mentions_shuffle_join_when_vocab_over_gate(
        spark, no_auto_broadcast, monkeypatch):
    """Build an over-threshold vocabulary (via a monkeypatched gate) and
    assert the fact-map join goes shuffle, not broadcast; restore the
    gate and assert the broadcast hint comes back."""
    from gitnexus_spark.operators import linking
    from gitnexus_spark.plans import hints

    mentions = spark.createDataFrame(
        [("u1", "Entity_1", "m"), ("u2", "Entity_2", "m")],
        ["doc_url", "name", "role"])
    registry = linking.entity_registry(
        spark.createDataFrame([("Entity_1", "u1"), ("Entity_2", "u2")],
                              ["name", "url"]))

    monkeypatch.setattr(hints, "BROADCAST_MAX_BYTES", 0)
    linked = linking.link_mentions(mentions, registry)
    plan = _plan(linked)
    assert "BroadcastHashJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan

    monkeypatch.setattr(hints, "BROADCAST_MAX_BYTES", 64 << 20)
    linked2 = linking.link_mentions(mentions, registry)
    assert "BroadcastHashJoin" in _plan(linked2)


def test_pipeline_resolved_shuffle_join_when_over_gate(
        spark, sf_dir, tmp_path, no_auto_broadcast):
    """End-to-end: a KGPipeline constructed with a zero broadcast budget
    still produces the SAME graph, through shuffle joins."""
    from gitnexus_spark.plans.pipeline import KGPipeline
    from gitnexus_spark.synthetic import alias_dictionary, synth_pages

    pages = synth_pages(spark, sf_dir).limit(40)
    res_b = KGPipeline(spark, str(tmp_path / "kg_b"),
                       alias_dict=alias_dictionary(spark)).run(pages)
    res_s = KGPipeline(spark, str(tmp_path / "kg_s"),
                       alias_dict=alias_dictionary(spark),
                       broadcast_max_bytes=0).run(pages)
    for t in ("nodes", "edges", "triples_resolved"):
        a = sorted(map(tuple, res_b[t].collect()))
        b = sorted(map(tuple, res_s[t].collect()))
        assert a == b, t


def test_resume_gate_reads_manifest_rows(spark, sf_dir, tmp_path):
    """A resumed pass gates on the row count its snapshot manifest
    recorded: a fresh KGPipeline over a built warehouse hints the
    name_links join exactly when rows x EST_ROW_BYTES fits the budget."""
    from gitnexus_spark.plans.hints import EST_ROW_BYTES
    from gitnexus_spark.plans.pipeline import KGPipeline
    from gitnexus_spark.sources.snapshots import SnapshotWriter
    from gitnexus_spark.synthetic import synth_pages

    out = str(tmp_path / "kg")
    KGPipeline(spark, out).run(synth_pages(spark, sf_dir).limit(20))
    rows = SnapshotWriter(spark).rows(f"{out}/name_links")
    dim = spark.createDataFrame([("a",)], ["name"])
    for budget, hinted in ((rows * EST_ROW_BYTES, True),
                           (rows * EST_ROW_BYTES - 1, False)):
        pipe = KGPipeline(spark, out, broadcast_max_bytes=budget)
        assert pipe._rows == {}
        pipe._load_or("name_links", None)   # resumed: no builder runs
        assert pipe._rows["name_links"] == rows > 0
        assert (pipe._dim_hint(dim, "name_links") is not dim) == hinted


def test_refresh_rederives_at_the_build_gate(spark, sf_dir, tmp_path,
                                             monkeypatch):
    """A warehouse built at a tiny broadcast gate is refreshed at that
    gate: the refresh's name-map joins stay unhinted (at the default
    64 MiB gate they would all be broadcast)."""
    from gitnexus_spark.plans.pipeline import KGPipeline
    from gitnexus_spark.plans.refresh import refresh_from_batch
    from gitnexus_spark.synthetic import synth_pages

    pages = synth_pages(spark, sf_dir).limit(20).localCheckpoint()
    out = str(tmp_path / "kg")
    KGPipeline(spark, out, broadcast_max_bytes=1).run(pages)

    decisions = []
    dim_hint = KGPipeline._dim_hint

    def spy(self, df, *dims, **kw):
        hinted = dim_hint(self, df, *dims, **kw)
        decisions.append((dims, hinted is not df))
        return hinted

    monkeypatch.setattr(KGPipeline, "_dim_hint", spy)
    refresh_from_batch(spark, out, pages.limit(2))
    name_map_joins = [h for dims, h in decisions if "name_links" in dims]
    assert name_map_joins and not any(name_map_joins), decisions
