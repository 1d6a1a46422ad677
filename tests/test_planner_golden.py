"""Golden planner state: ``BatchEvaluator`` planning must produce the
same arrays, in the same order and dtype, as the per-node reference
planner it replaced.

The digests below were recorded with the loop-based planner on four
forests of different shape (CSE-poor diverse pages, CSE-heavy templated
pages, heavy-tailed skewed pages and the every-operator standing event
set). Root slot order is part of the digest: ``root_subscription_map``
and the fused kernel's root ids index straight into it, so two planners
that disagree on it would join partials to the wrong subscriptions.
"""

import hashlib

import numpy as np
import pytest

from a_tree_spark.engine.eventize import EVENT_ATTRIBUTES, STANDING_SUBSCRIPTIONS
from a_tree_spark.expr import compile_forest
from a_tree_spark.expr.vector import BatchEvaluator
from a_tree_spark.web.pipeline import (
    PAGE_ATTRIBUTES,
    diverse_page_subscriptions,
    skewed_page_subscriptions,
    standing_page_subscriptions,
)


def planner_digest(ev: BatchEvaluator) -> str:
    """sha256 over the planner's output state. ndarrays hash with their
    own dtype and shape; Python lists hash as int64."""
    h = hashlib.sha256()

    def add(name, value):
        if isinstance(value, np.ndarray):
            arr = np.ascontiguousarray(value)
        else:
            arr = np.asarray(value, dtype=np.int64)
        h.update(f"{name}:{arr.dtype.str}:{arr.shape}".encode())
        h.update(arr.tobytes())

    add("perm", ev._perm)
    for kind, lo, hi, left, right in ev.levels:
        add("level", [kind, lo, hi])
        add("left", left)
        add("right", right)
    add("root_segments", [x for seg in ev.root_segments for x in seg])
    add("root_nodes", ev.root_nodes)
    add("root_sub_counts", ev.root_sub_counts)
    add("root_sub_offsets", ev.root_sub_offsets)
    add("root_sub_ids", ev.root_sub_ids)
    add("leaf_of_node", ev.leaf_of_node)
    add("n_leaf_nodes", [ev.n_leaf_nodes])
    for attr_index, sorted_ops, leaf_idxs in ev.eq_groups:
        add("eq_attr", [attr_index])
        h.update(repr(sorted_ops.tolist()).encode())
        add("eq_leaves", leaf_idxs)
    for g in ev.member_groups:
        add("mg", [g.attr_index, g.is_list, g.n_leaves])
        add("mg_leaves", g.leaf_idxs)
        h.update(repr([(type(k).__name__, k, v) for k, v in g.vocab.items()]).encode())
        add("vid_offsets", g.vid_offsets)
        add("vid_leaves", g.vid_leaves)
        add("negated", g.negated)
    add("generic_leaves", ev.generic_leaves)
    add("lazy_leaf_idxs", ev.lazy_leaf_idxs)
    return h.hexdigest()


FORESTS = {
    "diverse_10000": (PAGE_ATTRIBUTES, lambda: diverse_page_subscriptions(10000)),
    "standing_10000": (PAGE_ATTRIBUTES, lambda: standing_page_subscriptions(10000)),
    "skewed_2000": (PAGE_ATTRIBUTES, lambda: skewed_page_subscriptions(2000)),
    "standing_events": (EVENT_ATTRIBUTES, lambda: STANDING_SUBSCRIPTIONS),
}

GOLDEN = {
    "diverse_10000": "a7cc9f26529fc13c67a761ded52b6a7ad2e2ce78b8bb65b392645c4acf084573",
    "skewed_2000": "39c3808bb90e9f841ede692b90eb83edb7da57101b55183e1e2744d04a3afeca",
    "standing_10000": "a7bb0edce47cb66771fdc51ab9fe9d62684939c4f27bd1b57d0f14fd238de8a8",
    "standing_events": "49a1af19c3e36b0079d9517cab486f8ea03b9ec88ba764ee12fde78629022d0b",
}


@pytest.mark.parametrize("name", sorted(FORESTS))
def test_planner_state_matches_golden(name):
    attributes, subscriptions = FORESTS[name]
    ev = BatchEvaluator(compile_forest(attributes, subscriptions()))
    assert planner_digest(ev) == GOLDEN[name]
