"""What ships to executors with a compiled evaluator: plan state only,
the same size for the same live subscription set however much churn came
before, and one copy per job (the broadcast), not one per task command."""

import pickle

from a_tree_spark.engine.matcher import choose_access_pruning
from a_tree_spark.expr import AttributeTable, ForestBuilder
from a_tree_spark.expr.vector import BatchEvaluator
from a_tree_spark.web.pipeline import (
    PAGE_ATTRIBUTES,
    diverse_page_subscriptions,
    fused_match_pages,
    skewed_page_subscriptions,
)


def _shipped(builder: ForestBuilder, warm: bool = False) -> bytes:
    evaluator = BatchEvaluator(builder.compile())
    evaluator.access_pruning = choose_access_pruning(evaluator)
    if warm:  # fill the per-process work buffers, as a driver-side run would
        evaluator._buffers(64)
        evaluator._pruning_buffers(64)
    return pickle.dumps(evaluator, protocol=pickle.HIGHEST_PROTOCOL)


def test_pickled_evaluator_does_not_grow_under_churn():
    # a private table: the predicate memo make_predicate keeps on it
    # grows with every expression parsed, churned ones included
    subs = diverse_page_subscriptions(1500)
    builder = ForestBuilder(AttributeTable(list(PAGE_ATTRIBUTES)))
    for sub_id in range(1000):
        builder.insert(sub_id, subs[sub_id])
    before = len(_shipped(builder))
    for cycle in range(5):
        fresh = range(1000 + 100 * cycle, 1100 + 100 * cycle)
        for sub_id in fresh:
            builder.insert(sub_id, subs[sub_id])
        for sub_id in fresh:
            builder.delete(sub_id)
    assert len(builder.attributes._predicate_cache) > 0
    assert len(_shipped(builder)) == before


def test_pickled_evaluator_leaves_out_driver_state():
    for subs, pruned in ((diverse_page_subscriptions(2000), False),
                         (skewed_page_subscriptions(2000), True)):
        builder = ForestBuilder(PAGE_ATTRIBUTES)
        for sub_id, expression in subs.items():
            builder.insert(sub_id, expression)
        shipped = pickle.loads(_shipped(builder, warm=True))
        assert shipped.access_pruning is pruned
        assert "_predicate_cache" not in vars(shipped.forest.attributes)
        assert not hasattr(shipped, "_buf_cache")
        assert not hasattr(shipped, "_prune_buf_cache")
        # the parent CSR ships exactly when the two-phase pass reads it
        assert hasattr(shipped, "_parent_csr_cache") is pruned


def test_fused_kernel_command_stays_small(spark):
    """The per-task command of the fused kernel carries the closure, not
    the evaluator: at 10k diverse subscriptions it stays under 64 KB
    (capturing the lead_tokens member group made it ~0.56 MB)."""
    builder = ForestBuilder(PAGE_ATTRIBUTES)
    for sub_id, expression in diverse_page_subscriptions(10000).items():
        builder.insert(sub_id, expression)
    pages = spark.createDataFrame(
        [("http://a.fr/x", "<p>hi</p>", "fr", 1)],
        "url string, html string, lang string, page_key long",
    )
    plan = fused_match_pages(pages, builder, emit="matches")._jdf.queryExecution().analyzed()
    nodes, sizes = [plan], []
    while nodes:
        node = nodes.pop()
        if node.nodeName() == "MapInArrow":
            sizes.append(node.functionExpr().func().command().length())
        children = node.children().iterator()
        while children.hasNext():
            nodes.append(children.next())
    assert len(sizes) == 1 and sizes[0] < 64 * 1024, sizes
