"""Round-15 optimization pins: q179's spread keep and q172's revert."""

from __future__ import annotations

SF_DIR = "/root/testdata/sf0.01"


def _plan_nodes(node):
    """Every node of a physical plan, looking through AQE's wrapper and
    its query stages."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(node.executedPlan())
        return
    if name.endswith("QueryStageExec"):
        yield from _plan_nodes(node.plan())
        return
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def _round_robin_exchanges(df) -> int:
    """Number of ShuffleExchangeExec nodes with round-robin partitioning."""
    return sum(
        node.getClass().getSimpleName() == "ShuffleExchangeExec"
        and node.outputPartitioning().getClass().getSimpleName()
        == "RoundRobinPartitioning"
        for node in _plan_nodes(df._jdf.queryExecution().executedPlan())
    )


def test_q179_heavy_branch_spread_dom_branch_not(spark):
    """q179's digest chain (tokenize + md5 of sorted distinct tokens)
    rides the gated round-robin exchange (the r15 A/B keep: -9%); the
    dominant-lang branch reads the raw scan without it. Exactly ONE
    RoundRobinPartitioning in the plan — a second one would mean the
    cheap (source, lang) branch regained the exchange the r14 doctrine
    says is pure latency there. The spread form's values are held to
    DuckDB by test_query_matches_oracle[q179_data_card]."""
    from kinesis_logs_reader_spark.operators.curation import q179_data_card

    assert _round_robin_exchanges(q179_data_card(spark, SF_DIR)) == 1


def test_q172_stays_unspread(spark):
    """q172's novelty-key chain measured-negative under the exchange
    (+9%, combining groupBy(key) min overlaps the scan) — pin the
    revert so a blanket spread rollout can't silently re-add it."""
    from kinesis_logs_reader_spark.operators.dedup import q172_novelty_curve

    assert _round_robin_exchanges(q172_novelty_curve(spark, SF_DIR)) == 0
