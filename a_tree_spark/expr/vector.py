"""Vectorized forest evaluator over Arrow/pandas record batches.

This is the batch generalization of the reference's per-event search
(/root/reference/src/atree.rs:255-311) and bitset memo
(src/evaluation.rs:1-64): one packed TRUTH bitset per DAG node across a
batch of rows. In NNF, Kleene truth propagates monotonically — AND=min
and OR=max can never turn UNKNOWN into TRUE — so 'does this row match'
needs only TRUE-bits; the three-valued semantics live at the leaf layer
(null attr -> not TRUE) and in the single-row oracle used for parity
tests.

Execution strategy (SURVEY.md §4.8), measured on 32 concurrent workers:
- each distinct leaf is evaluated once per batch as a numpy bool column
  (the CSE payoff — reference shares node evaluations per event,
  src/lib.rs:72-75);
- membership leaves (in / one of / ...) per attribute share one
  broadcast inverted index: each batch value occurrence scatters into
  exactly the leaves listing it — the vectorized analog of the
  reference's access-predicate work-list (src/atree.rs:530-591);
  fused kernels can dictionary-encode so only unique strings cross
  into Python;
- equality leaves per attribute evaluate as one searchsorted + scatter;
- list attributes flatten once per batch (flat values + row ids) so
  every leaf over them is one vectorized membership + segmented
  reduction — no per-row Python;
- the interior sweep runs on PACKED bits (np.packbits) level by level
  with fancy-indexed bitwise AND/OR into persistent reusable buffers:
  packing cut memory traffic 8x and buffer reuse removed an
  mmap/munmap storm (30-40% kernel time) — together they took the
  evaluator from 3x per-process cpu inflation at 32 workers
  (DRAM-saturated) to ~1.3x;
- rows are processed in adaptive chunks sized to a memory budget so
  working sets stay cache-resident.
"""

from __future__ import annotations

from decimal import Decimal
from fractions import Fraction
from itertools import chain
from operator import attrgetter

import numpy as np
import pandas as pd

from .ast import Op
from .compiler import AND, LEAF, CompiledForest

FALSE, UNKNOWN, TRUE = np.uint8(0), np.uint8(1), np.uint8(2)

DECIMAL_SCALE = 6  # Float attrs are exact decimals at scale 6 (SURVEY §1.2)


#: leaf op -> planner group class: 0 grouped equality, 1 scalar
#: membership, 2 list membership; every other op (3) is generic
_GROUP_CLASS = {Op.EQ: 0, Op.IN: 1, Op.NOT_IN: 1, Op.ONE_OF: 2, Op.NONE_OF: 2}
_OP, _OPERAND, _ATTR = attrgetter("op"), attrgetter("operand"), attrgetter("attr_index")


def _true_mask(result: np.ndarray, null_mask: np.ndarray) -> np.ndarray:
    """TRUE-bit per row: UNKNOWN (null attr) can never contribute a
    match in NNF+Kleene, so the vectorized layer only tracks truth —
    the single-row oracle keeps full tri-state for parity tests."""
    if null_mask is not None and null_mask.any():
        return result & ~null_mask
    return np.asarray(result, dtype=bool)


class _ScalarColumn:
    """Null-separated numpy view of one scalar attribute column.

    String columns carry ONE of two representations:

    - ``str_series``: a pandas object Series (the pandas ingest path
      and fused kernels that already hold one);
    - ``codes`` + ``uniques``: Arrow dictionary encoding — int64 codes
      (-1 = null) into the batch-local ``uniques`` list. Every string
      leaf op then runs as int64 numpy compares/gathers over the codes
      with ONE tiny python lookup over the uniques, instead of pandas
      object-array comparisons per leaf (profiled: object-dtype EQ/
      isin/map were the dense sweep's largest line items — guide §4.2,
      hand batches to vectorized kernels, encode strings once).
    """

    __slots__ = ("mask", "values", "str_series", "codes", "uniques",
                 "_uniq_map")

    def __init__(self, mask: np.ndarray, values, str_series=None,
                 codes=None, uniques=None):
        self.mask = mask
        self.values = values
        self.str_series = str_series
        self.codes = codes
        self.uniques = uniques
        self._uniq_map = None

    @property
    def uniq_map(self) -> dict:
        """{unique value -> dictionary code}, built once per batch."""
        if self._uniq_map is None:
            self._uniq_map = {u: i for i, u in enumerate(self.uniques)}
        return self._uniq_map


class _ListColumn:
    """Flattened once-per-batch representation of a list column.

    ``vids`` (optional) carries pre-computed member-group vocabulary
    codes aligned with ``flat`` (-1 = not in any literal list), letting
    Arrow-native kernels dictionary-encode so only unique strings cross
    into Python."""

    __slots__ = ("mask", "lengths", "row_ids", "flat", "n", "vids",
                 "_offsets", "fcodes", "funiques", "_funiq_map")

    def __init__(self, series: pd.Series):
        n = len(series)
        self.n = n
        mask = np.zeros(n, dtype=bool)
        lengths = np.zeros(n, dtype=np.int64)
        chunks = []
        raw = series.to_numpy()
        for i in range(n):
            v = raw[i]
            if v is None or (isinstance(v, float) and np.isnan(v)):
                mask[i] = True
            else:
                lengths[i] = len(v)
                if len(v):
                    chunks.append(np.asarray(v))
        self.mask = mask
        self.lengths = lengths
        self.row_ids = np.repeat(np.arange(n, dtype=np.int64), lengths)
        if chunks:
            self.flat = np.concatenate(chunks)
        else:
            self.flat = np.empty(0, dtype=np.int64)
        self.vids = None
        self._offsets = None
        self.fcodes = None
        self.funiques = None
        self._funiq_map = None

    @classmethod
    def from_parts(
        cls, mask: np.ndarray, lengths: np.ndarray, flat: np.ndarray,
        vids: np.ndarray | None = None,
        fcodes: np.ndarray | None = None,
        funiques: list | None = None,
    ) -> "_ListColumn":
        """Zero-copy construction from an Arrow ListArray's pieces —
        used by fused kernels that never materialize pandas lists.
        ``fcodes``/``funiques`` optionally carry a dictionary encoding
        of the flattened string values (-1 = null element), so generic
        flat ops run int64 membership instead of object-array isin."""
        col = cls.__new__(cls)
        col.n = len(mask)
        col.mask = mask
        col.lengths = lengths
        col.row_ids = np.repeat(np.arange(col.n, dtype=np.int64), lengths)
        col.flat = flat
        col.vids = vids
        col._offsets = None
        col.fcodes = fcodes
        col.funiques = funiques
        col._funiq_map = None
        return col

    @property
    def funiq_map(self) -> dict:
        """{flat unique value -> dictionary code}, built once per batch."""
        if self._funiq_map is None:
            self._funiq_map = {u: i for i, u in enumerate(self.funiques)}
        return self._funiq_map

    @property
    def offsets(self) -> np.ndarray:
        """Flat-start offset per row (len n+1), computed once per batch.
        Access pruning subsets the SAME column once per lazy leaf —
        recomputing this O(n) cumsum per subset was 15% of the pruned
        evaluator's wall at 3k lazy leaves (profiled round 4)."""
        if self._offsets is None:
            self._offsets = np.concatenate(
                ([0], np.cumsum(self.lengths))
            )
        return self._offsets


def scalar_column(mask: np.ndarray, values=None, str_series=None,
                  codes=None, uniques=None) -> _ScalarColumn:
    """Public constructor for prepared scalar columns (fused kernels).
    String columns may pass dictionary ``codes`` (+ ``uniques``)
    instead of a pandas ``str_series`` — see _ScalarColumn."""
    return _ScalarColumn(mask, values, str_series, codes=codes, uniques=uniques)


def _scaled_int_from_decimal_literal(literal: Decimal) -> Fraction:
    return Fraction(literal) * 10**DECIMAL_SCALE


def _decimal_threshold(op: Op, literal: Decimal) -> tuple[Op, int]:
    """Convert an exact-decimal comparison into an equivalent int64
    comparison over scale-6 fixed-point values. Exact: the literal is
    converted through Fraction, never through binary floats."""
    import math

    frac = _scaled_int_from_decimal_literal(literal)
    if frac.denominator == 1:
        return op, int(frac)
    # literal is not representable at scale 6; adjust threshold
    if op is Op.LT:   # v < frac  <=>  v <= floor(frac)  <=> v < floor+1
        return Op.LT, math.floor(frac) + 1
    if op is Op.LE:   # v <= frac <=>  v <= floor(frac)
        return Op.LT, math.floor(frac) + 1
    if op is Op.GT:   # v > frac  <=>  v >= ceil(frac)
        return Op.GE, math.ceil(frac)
    if op is Op.GE:
        return Op.GE, math.ceil(frac)
    raise AssertionError(op)


class _MemberGroup:
    """Inverted index over the membership leaves of one attribute.

    vocab: literal value -> dense vid; CSR (vid_offsets, vid_leaves) maps
    each vid to the group-leaf positions whose literal list contains it.
    Evaluation scatters each batch value occurrence into its leaves —
    the batch analog of the reference registering each predicate once in
    a global work-list and evaluating it once per event
    (src/atree.rs:558-591).
    """

    __slots__ = (
        "attr_index", "is_list", "leaf_idxs", "negated", "vocab",
        "vid_offsets", "vid_leaves", "n_leaves",
    )

    def __init__(self, forest, attr_index: int, is_list: bool, leaf_idxs: list[int]):
        self.attr_index = attr_index
        self.is_list = is_list
        self.leaf_idxs = leaf_idxs
        self.n_leaves = len(leaf_idxs)
        group = list(map(forest.leaves.__getitem__, leaf_idxs))
        ops = np.fromiter(map(_OP, group), dtype=object, count=len(group))
        self.negated = (ops == Op.NOT_IN) | (ops == Op.NONE_OF)
        # one factorize over every (leaf, value) occurrence: vids number
        # values in first-occurrence order, and sorting occurrences by
        # (vid, position) lists each vid's group positions in ascending
        # order (the CSR). The unique int64 key sorts ~4x faster than a
        # stable argsort of the vids.
        operands = list(map(_OPERAND, group))
        lengths = np.fromiter(map(len, operands), dtype=np.int64, count=len(operands))
        codes, uniques = pd.Series(list(chain.from_iterable(operands))).factorize()
        group_pos = np.repeat(np.arange(self.n_leaves, dtype=np.int64), lengths)
        n = len(codes)
        self.vid_leaves = group_pos[np.sort(codes * n + np.arange(n)) % n]
        self.vid_offsets = np.concatenate(
            [[0], np.cumsum(np.bincount(codes, minlength=len(uniques)))]
        )
        self.vocab = dict(zip(uniques.tolist(), range(len(uniques))))

    def _codes(self, values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Map raw values -> (valid_mask, vids). Ints use searchsorted on
        the sorted vocab; strings use a pandas hash map."""
        if len(values) == 0:
            return np.empty(0, dtype=bool), np.empty(0, dtype=np.int64)
        sample = values[0]
        if isinstance(sample, str) or values.dtype.kind in ("U", "O"):
            mapped = pd.Series(values).map(self.vocab)
            valid = mapped.notna().to_numpy()
            vids = mapped.fillna(0).to_numpy(dtype=np.int64)
            return valid, vids
        keys = np.fromiter(self.vocab.keys(), dtype=np.int64, count=len(self.vocab))
        vids_by_key = np.fromiter(self.vocab.values(), dtype=np.int64, count=len(self.vocab))
        order = np.argsort(keys)
        sorted_keys, sorted_vids = keys[order], vids_by_key[order]
        pos = np.searchsorted(sorted_keys, values)
        pos_clipped = np.minimum(pos, len(sorted_keys) - 1)
        valid = sorted_keys[pos_clipped] == values
        return valid, sorted_vids[pos_clipped]

    def map_unique(self, unique_values: list) -> np.ndarray:
        """vocab lookup for a (small) unique-value dictionary; -1 = not
        in any literal list. Lets fused kernels pass Arrow dictionary
        indices so only UNIQUE strings ever cross into Python."""
        return np.array(
            [self.vocab.get(u, -1) for u in unique_values], dtype=np.int64
        )

    def evaluate_codes(
        self, vids: np.ndarray, rows: np.ndarray, mask: np.ndarray, n: int
    ) -> np.ndarray:
        """Pre-coded path: vids (-1 = no vocab hit) aligned with rows."""
        valid = vids >= 0
        return self._scatter(rows[valid], vids[valid], mask, n)

    def evaluate(self, col, n: int) -> np.ndarray:
        """-> bool TRUE-mask matrix (n_leaves, n)."""
        if self.is_list:
            if getattr(col, "vids", None) is not None:
                return self.evaluate_codes(col.vids, col.row_ids, col.mask, n)
            values, rows = col.flat, col.row_ids
        else:
            if getattr(col, "codes", None) is not None:
                # dictionary path: vocab lookup over the few uniques,
                # gather through the int codes (trailing -1 = null)
                lookup = np.append(self.map_unique(col.uniques), -1)
                return self.evaluate_codes(
                    lookup[col.codes], np.arange(n), col.mask, n
                )
            values, rows = col.values if col.str_series is None else col.str_series.to_numpy(), np.arange(n)
        valid, vids = self._codes(np.asarray(values))
        return self._scatter(rows[valid], vids[valid], col.mask, n)

    def _scatter(
        self, occ_rows: np.ndarray, occ_vids: np.ndarray, mask: np.ndarray, n: int
    ) -> np.ndarray:

        hit = np.zeros((self.n_leaves, n), dtype=bool)
        if len(occ_vids):
            starts = self.vid_offsets[occ_vids]
            counts = self.vid_offsets[occ_vids + 1] - starts
            total = int(counts.sum())
            if total:
                # ragged gather: positions into vid_leaves for every
                # (occurrence, leaf) pair
                offsets = np.repeat(starts, counts)
                within = np.arange(total) - np.repeat(
                    np.concatenate([[0], np.cumsum(counts)[:-1]]), counts
                )
                pair_leaves = self.vid_leaves[offsets + within]
                pair_rows = np.repeat(occ_rows, counts)
                hit[pair_leaves, pair_rows] = True

        hit ^= self.negated[:, None]
        if mask is not None and mask.any():
            hit[:, mask] = False  # UNKNOWN never matches
        return hit


def _pull_block(
    cand: np.ndarray,
    values: np.ndarray,
    P_ids: np.ndarray,
    P_off: np.ndarray,
    P_counts: np.ndarray,
    lo: int,
    hi: int,
) -> None:
    """OR each node's parents' (cand & ub) rows into ``cand[lo:hi]`` —
    one vectorized reduceat over the block's slice of the
    child->parents CSR.

    One zero row is appended to the contribution matrix so an empty
    TRAILING segment's start (== e-s) indexes the pad instead of being
    clamped into the preceding segment — the round-4 clamp
    ``np.minimum(starts, e-s-1)`` silently truncated the preceding
    node's LAST parent contribution whenever the block ended with a
    parentless node (safe then only via an undocumented slot-ordering
    invariant; ADVICE round 4, pinned by
    tests/test_expr_vector.py::test_pull_block_trailing_empty_segment).
    A non-empty final segment ORs the pad in (identity), and empty
    MIDDLE segments (start[i] == start[i+1]) yield one garbage element
    that the counts mask zeroes."""
    s, e = int(P_off[lo]), int(P_off[hi])
    if e == s:
        return
    ids = P_ids[s:e]
    contrib = np.empty((e - s + 1, cand.shape[1]), dtype=np.uint8)
    np.bitwise_and(cand[ids], values[ids], out=contrib[:-1])
    contrib[-1] = 0
    starts = P_off[lo:hi] - s
    pulled = np.bitwise_or.reduceat(contrib, starts, axis=0)
    pulled[P_counts[lo:hi] == 0] = 0
    np.bitwise_or(cand[lo:hi], pulled, out=cand[lo:hi])


def adaptive_budget(num_nodes: int) -> int:
    """Sweep-buffer budget sized to the forest. After the
    level-contiguous layout + word-first decode, per-row sweep cost is
    nearly FLAT in chunk size (measured 14.8-23.6 µs/row from 2k to 16k
    rows at 1e5 subscriptions) — what still hurts is a budget-derived
    chunk SMALLER than the Arrow batch: a 4096-row batch split as
    3474 + 622 pays the per-chunk fixed costs twice, once on a tiny
    tail. num_nodes * 1792 bytes keeps the chunk ceiling (14,336 rows)
    above any realistic Arrow batch at every forest size; floor 16 MB
    keeps small forests on the round-1-tuned setting, cap 96 MB bounds
    worker RSS (32 workers/box)."""
    return max(16 << 20, min(96 << 20, num_nodes * 1792))


class BatchEvaluator:
    """Evaluates a CompiledForest over pandas record batches.

    The forest and this evaluator are both picklable state that ships to
    executors via closure capture / broadcast; all heavy work happens in
    numpy on Arrow-backed columns.
    """

    #: lazy leaves evaluate on the candidate subset only below this
    #: row fraction; above it a dense evaluation is cheaper than the
    #: gather/scatter of subsetting
    DENSE_FRACTION = 0.5

    def __init__(
        self,
        forest: CompiledForest,
        memory_budget_bytes: int | None = None,
        access_pruning: bool = False,
    ):
        self.forest = forest
        self.memory_budget = (
            adaptive_budget(forest.num_nodes)
            if memory_budget_bytes is None
            else memory_budget_bytes
        )
        self.access_pruning = access_pruning
        self._plan_leaf_groups()
        self._plan_subscribers(self._plan_levels())
        self._plan_access()

    def __getstate__(self) -> dict:
        """Ship plan state only: work buffers rebuild per process, and
        the parent CSR ships (built once, here) only when the two-phase
        pass will read it."""
        state = self.__dict__.copy()
        state.pop("_buf_cache", None)
        state.pop("_prune_buf_cache", None)
        state.pop("_parent_csr_cache", None)
        if self.access_pruning and self.lazy_leaf_idxs:
            state["_parent_csr_cache"] = self._parent_csr()
        return state

    # ------------------------------------------------------------ planning

    def _plan_leaf_groups(self) -> None:
        """Group leaves per attribute for one-shot evaluation:

        - EQ leaves -> one searchsorted/map + scatter per attribute;
        - IN/NOT_IN and ONE_OF/NONE_OF leaves -> a broadcast *inverted
          index* (literal value -> leaf ids): each value occurrence in the
          batch scatters into exactly the leaves that list it, so work is
          O(occurrences x leaves-per-value) instead of O(leaves x rows).
          This is the vectorized restatement of the reference's global
          predicate work-list / access-predicate pass
          (src/atree.rs:530-591).

        Everything else evaluates per-leaf (still vectorized per batch).
        Groups are keyed (class, attribute) and ordered by their first
        leaf; undersized groups fall back to generic in that order."""
        leaves = self.forest.leaves
        ops = np.fromiter(map(_OP, leaves), dtype=object, count=len(leaves))
        attr = np.fromiter(map(_ATTR, leaves), dtype=np.int64, count=len(leaves))
        cls = np.full(len(leaves), 3, dtype=np.int64)
        for op, group_cls in _GROUP_CLASS.items():
            cls[ops == op] = group_cls
        cls[[i for i in np.flatnonzero(cls == 0).tolist()
             if isinstance(leaves[i].operand, Decimal)]] = 3  # exact-decimal EQ
        grouped = np.flatnonzero(cls < 3)
        key = (cls * (attr.max(initial=0) + 1) + attr)[grouped]
        order = np.argsort(key, kind="stable")
        by_key = grouped[order]
        splits = np.flatnonzero(np.diff(key[order])) + 1
        groups = sorted(np.split(by_key, splits) if len(by_key) else [],
                        key=lambda g: g[0])

        self.eq_groups: list[tuple[int, np.ndarray, list[int]]] = []
        self.member_groups: list[_MemberGroup] = []
        small_eq: list[int] = []
        small_member: list[int] = []
        for idxs in groups:
            group_cls, attr_index = int(cls[idxs[0]]), int(attr[idxs[0]])
            leaf_idxs = idxs.tolist()
            if group_cls == 0:
                if len(leaf_idxs) < 4:
                    small_eq.extend(leaf_idxs)
                    continue
                operands = [leaves[i].operand for i in leaf_idxs]
                rank = sorted(range(len(operands)), key=operands.__getitem__)
                self.eq_groups.append((
                    attr_index,
                    np.array([operands[i] for i in rank]),
                    [leaf_idxs[i] for i in rank],
                ))
            elif len(leaf_idxs) < 2:
                small_member.extend(leaf_idxs)
            else:
                self.member_groups.append(
                    _MemberGroup(self.forest, attr_index, group_cls == 2, leaf_idxs)
                )
        self.generic_leaves = np.flatnonzero(cls == 3).tolist() + small_eq + small_member

    def _plan_levels(self) -> np.ndarray:
        """Level-contiguous node layout: the evaluator renumbers nodes
        (``_perm``: forest id -> sweep slot) so that the leaf-node block
        and every (height, kind) level group occupy CONTIGUOUS slots in
        the ``values`` buffer, roots-first within each block. Pay-off at
        1e5 subscriptions (the sweep is DRAM-bound at 32 workers):

        - level results write via ``out=values[lo:hi]`` — the fancy
          scatter (read+write of the whole level) disappears, ~2 of ~9
          byte-ops per node-byte;
        - roots form one contiguous segment per block, so root decode
          scans ``values`` slices DIRECTLY — the (n_roots x nb) gather
          into a separate matched buffer (2 x 41 MB per 14k-row chunk at
          1e5 subs) disappears entirely.

        The ordering is one lexsort over (level, kind, not-root, forest
        id) — leaves are level 0 and sort first — so two evaluators over
        the same compiled forest agree on root indexing;
        root_subscription_map relies on that. Returns the root forest
        ids in slot order (the canonical root indexing everywhere)."""
        forest = self.forest
        nn = forest.num_nodes
        kind = np.asarray(forest.node_kind, dtype=np.int64)
        level = np.asarray(forest.node_level, dtype=np.int64)
        left = np.asarray(forest.node_left, dtype=np.int64)
        right = np.asarray(forest.node_right, dtype=np.int64)
        is_root = np.zeros(nn, dtype=bool)
        is_root[np.fromiter(forest.node_subs, dtype=np.int64)] = True

        new_order = np.lexsort((np.arange(nn), ~is_root, kind, level))
        perm = np.zeros(max(nn, 1), dtype=np.int64)
        perm[new_order] = np.arange(nn, dtype=np.int64)
        self._perm = perm

        block = (level * 3 + kind)[new_order]
        bounds = np.flatnonzero(np.diff(block)) + 1
        starts = [0] + bounds.tolist() if nn else []
        ends = bounds.tolist() + [nn]
        slot_is_root = is_root[new_order]
        roots_before = np.concatenate([[0], np.cumsum(slot_is_root)])
        self.n_leaf_nodes = int(np.count_nonzero(kind == LEAF))
        self.root_segments: list[tuple[int, int]] = []
        self.levels: list[tuple[int, int, int, np.ndarray, np.ndarray]] = []
        for lo, hi in zip(starts, ends):
            k_roots = int(roots_before[hi] - roots_before[lo])
            if k_roots:
                self.root_segments.append((lo, k_roots))
            if lo >= self.n_leaf_nodes:
                nodes = new_order[lo:hi]
                self.levels.append(
                    (int(kind[nodes[0]]), lo, hi, perm[left[nodes]], perm[right[nodes]])
                )
        self.leaf_of_node = left[new_order[: self.n_leaf_nodes]]
        # interning guarantees one node per distinct leaf predicate;
        # the pruning pass relies on this to scatter leaf candidates
        # with plain indexed assignment (checked once at plan time —
        # an explicit raise, not `assert`, so it survives python -O)
        if len(np.unique(self.leaf_of_node)) != len(self.leaf_of_node):
            raise AssertionError(
                "leaf_of_node is not injective: leaf interning invariant "
                "violated; pruned scatter would drop candidates"
            )
        return new_order[slot_is_root]

    def _plan_subscribers(self, roots: np.ndarray) -> None:
        """CSR of DISTINCT expression roots -> subscriber ids. CSE means
        many subscriptions share one root (4.3x on the templated 100k
        workload), so match decode runs per distinct root and expands to
        sub ids afterwards — round 1 gathered and bit-decoded one node
        row PER SUBSCRIPTION, which was the single largest cost at 100k
        subs (~45% of evaluate_prepared). Root order follows the sweep
        slot order from _plan_levels so decode segments index straight
        into this CSR."""
        subs = [self.forest.node_subs[r] for r in roots.tolist()]
        flat = list(chain.from_iterable(subs))
        self.root_nodes = self._perm[roots]
        self.root_sub_counts = np.fromiter(map(len, subs), dtype=np.int64, count=len(subs))
        self.root_sub_offsets = np.concatenate(
            [[0], np.cumsum(self.root_sub_counts)]
        ).astype(np.int64)
        self.root_sub_ids = np.asarray(flat) if flat else np.empty(0, dtype=np.int64)
        # flat per-subscription views (public: matcher sizing, tests)
        self.sub_node_idxs = np.repeat(self.root_nodes, self.root_sub_counts)
        self.sub_ids = self.root_sub_ids

    def _plan_access(self) -> None:
        """Two-phase access-predicate split, the reference's defining
        optimization (src/atree.rs:530-591 choose_access_child / delayed
        predicates, doc src/lib.rs:77-87): an AND registers only its
        CHEAPEST child as the access predicate and defers the sibling
        until the access side fired. The compiler already cost-orders
        children (node_left = cheapest, compiler.py, ref atree.rs:133-137),
        so the access set is the leaves reachable from the roots without
        ever entering an AND's right child; everything else is LAZY.
        Reachability propagates one level block at a time, top down:
        every parent sits at a higher level than its children.

        Vectorized restatement: lazy leaves are assumed TRUE for an
        upper-bound sweep (sound in NNF — Kleene truth is monotone under
        AND=min/OR=max), a packed downward pass turns the upper bound
        into per-leaf candidate row bitsets, and each lazy leaf then
        evaluates only on its candidate rows. Grouped leaves (inverted
        membership index, grouped equality) stay dense: they already
        cost O(occurrences), which IS the access-predicate economics —
        only per-leaf generic evaluation is worth deferring."""
        access = np.zeros(len(self._perm), dtype=bool)
        for lo, k in self.root_segments:
            access[lo : lo + k] = True
        for kind, lo, hi, left, right in reversed(self.levels):
            live = access[lo:hi]
            access[left[live]] = True  # cheapest child = access
            if kind != AND:
                access[right[live]] = True  # OR defers nothing
        access_leaves = self.leaf_of_node[access[: self.n_leaf_nodes]]
        generic = np.asarray(self.generic_leaves, dtype=np.int64)
        self.lazy_leaf_idxs = generic[~np.isin(generic, access_leaves)].tolist()
        self._lazy_set = set(self.lazy_leaf_idxs)

    # ------------------------------------------------------------ columns

    def _scalar_column(self, series: pd.Series, kind) -> _ScalarColumn:
        from .schema import AttributeKind

        mask = series.isna().to_numpy()
        if kind is AttributeKind.STRING:
            return _ScalarColumn(mask, None, series)
        if kind is AttributeKind.BOOLEAN:
            values = series.astype("boolean").fillna(False).to_numpy(dtype=bool)
            return _ScalarColumn(mask, values)
        if kind is AttributeKind.FLOAT:
            # Fast path: engine pre-scales decimals JVM-side to int64 at
            # scale 6. Slow path (tests/oracle): object Decimals.
            if series.dtype == object:
                # HALF_UP quantize mirrors Spark's decimal(28,6) cast and
                # normalize_event's scale-6 contract (plain int() would
                # truncate 7-dp values toward zero and diverge)
                from decimal import ROUND_HALF_UP

                q = Decimal(1).scaleb(-DECIMAL_SCALE)
                values = np.array(
                    [
                        0
                        if v is None
                        else int(
                            Decimal(v)
                            .quantize(q, rounding=ROUND_HALF_UP)
                            .scaleb(DECIMAL_SCALE)
                        )
                        for v in series
                    ],
                    dtype=np.int64,
                )
            else:
                values = series.fillna(0).to_numpy(dtype=np.int64)
            return _ScalarColumn(mask, values)
        # INTEGER: Arrow gives int64, or float64/object when nulls present
        if series.dtype == np.int64:
            values = series.to_numpy()
        else:
            if series.dtype == object:
                series = pd.to_numeric(series)
            values = series.fillna(0).to_numpy(dtype=np.int64)
        return _ScalarColumn(mask, values)

    def _columns(self, pdf: pd.DataFrame) -> dict[int, object]:
        """Build per-attribute column caches for the attributes the forest
        actually touches (column pruning at the Python layer too)."""
        forest = self.forest
        needed = {leaf.attr_index for leaf in forest.leaves}
        cache: dict[int, object] = {}
        for attr_index in needed:
            definition = forest.attributes.definition(attr_index)
            series = pdf[definition.name]
            if definition.kind.is_list:
                cache[attr_index] = _ListColumn(series)
            else:
                cache[attr_index] = self._scalar_column(series, definition.kind)
        return cache

    # --------------------------------------------------- arrow fast path

    #: generic ops that read the flattened element values (everything
    #: else on a list attribute — is empty / is null — needs only
    #: lengths/mask, so flat materialization can be skipped)
    _FLAT_OPS = (Op.ONE_OF, Op.NONE_OF, Op.ALL_OF, Op.NOT_ALL_OF)

    def arrow_columns(self, batch) -> dict[int, object]:
        """Prepared column cache straight from an Arrow RecordBatch.

        List attributes build via ``_ListColumn.from_parts`` on the
        ListArray's offsets/values (``pc.list_value_length`` +
        ``pc.list_flatten``) — the per-row python loop in
        ``_ListColumn.__init__`` never runs (VERDICT.md round 2: that
        loop was the general matcher's hot-path anti-pattern). String
        lists whose leaves are all member-grouped dictionary-encode, so
        only UNIQUE tokens cross into Python (same trick as the fused
        kernel, web/pipeline.py)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        from .schema import AttributeKind

        forest = self.forest
        needed = {leaf.attr_index for leaf in forest.leaves}
        cache: dict[int, object] = {}
        for attr_index in needed:
            definition = forest.attributes.definition(attr_index)
            arr = batch.column(batch.schema.get_field_index(definition.name))
            if not definition.kind.is_list:
                cache[attr_index] = self._scalar_from_arrow(
                    arr, definition.kind
                )
                continue
            mask = pc.is_null(arr).to_numpy(zero_copy_only=False)
            lengths = (
                pc.fill_null(pc.list_value_length(arr), 0)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            flat = pc.list_flatten(arr)
            group = next(
                (
                    g
                    for g in self.member_groups
                    if g.attr_index == attr_index and g.is_list
                ),
                None,
            )
            # dictionary vids serve only STRING member groups; an int
            # member group (or no group at all) reads the flat values,
            # as do generic flat ops
            use_vids = group is not None and (
                pa.types.is_string(flat.type)
                or pa.types.is_large_string(flat.type)
            )
            needs_flat = not use_vids or any(
                forest.leaves[i].attr_index == attr_index
                and forest.leaves[i].op in self._FLAT_OPS
                for i in self.generic_leaves
            )
            is_str_flat = pa.types.is_string(flat.type) or (
                pa.types.is_large_string(flat.type)
            )
            vids = None
            fcodes = funiques = None
            encoded = None
            if use_vids or (needs_flat and is_str_flat):
                encoded = pc.dictionary_encode(flat)
            if use_vids:
                dict_vals = encoded.dictionary.to_pylist()
                # null elements inside the list produce null dictionary
                # indices; route them to a trailing -1 sentinel slot so
                # they fall out via the vids>=0 guard (matching the
                # pandas path, which treats a null element as non-member)
                lookup = np.append(group.map_unique(dict_vals), -1)
                idx = (
                    pc.fill_null(encoded.indices, len(dict_vals))
                    .to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                )
                vids = lookup[idx]
            flat_np = None
            if needs_flat:
                if is_str_flat:
                    # flat ops on string lists run over dictionary
                    # codes: only UNIQUE tokens cross into Python, and
                    # membership is int64 isin instead of object-array
                    # hashing (null element -> -1, never a member)
                    funiques = encoded.dictionary.to_pylist()
                    fcodes = (
                        pc.fill_null(encoded.indices, -1)
                        .to_numpy(zero_copy_only=False)
                        .astype(np.int64)
                    )
                else:
                    flat_np = flat.to_numpy(zero_copy_only=False)
            cache[attr_index] = _ListColumn.from_parts(
                mask, lengths, flat_np, vids=vids,
                fcodes=fcodes, funiques=funiques,
            )
        return cache

    def _scalar_from_arrow(self, arr, kind) -> _ScalarColumn:
        import pyarrow as pa
        import pyarrow.compute as pc

        from .schema import AttributeKind

        mask = pc.is_null(arr).to_numpy(zero_copy_only=False)
        if kind is AttributeKind.STRING:
            # dictionary-encode once per batch: only UNIQUE strings
            # cross into Python; every leaf then compares int64 codes
            enc = pc.dictionary_encode(arr)
            codes = (
                pc.fill_null(enc.indices, -1)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            return _ScalarColumn(
                mask, None, codes=codes, uniques=enc.dictionary.to_pylist()
            )
        if kind is AttributeKind.BOOLEAN and pa.types.is_boolean(arr.type):
            values = (
                pc.fill_null(arr, False)
                .to_numpy(zero_copy_only=False)
                .astype(bool)
            )
            return _ScalarColumn(mask, values)
        if pa.types.is_integer(arr.type):
            # INTEGER attrs, and FLOAT attrs the matcher pre-scaled to
            # int64 fixed-point JVM-side (engine/matcher.py)
            values = (
                pc.fill_null(arr, 0)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            return _ScalarColumn(mask, values)
        # anything else (object decimals, unexpected types): the pandas
        # builder knows the slow exact conversions
        return self._scalar_column(arr.to_pandas(), kind)

    def evaluate_arrow(self, batch) -> tuple[np.ndarray, np.ndarray]:
        """Arrow analog of ``evaluate``: (row_positions, sub_ids) pairs
        for one RecordBatch, chunked to the memory budget via zero-copy
        ``batch.slice`` (pc kernels honor slice offsets)."""
        n_total = batch.num_rows
        if n_total == 0 or len(self.sub_ids) == 0:
            return np.empty(0, dtype=np.int64), self.sub_ids[:0]
        chunk = self._chunk_rows(n_total)
        out_rows: list[np.ndarray] = []
        out_subs: list[np.ndarray] = []
        for start in range(0, n_total, chunk):
            piece = batch.slice(start, min(chunk, n_total - start))
            cache = self.arrow_columns(piece)
            rows, subs = self.evaluate_prepared(cache, piece.num_rows)
            out_rows.append(rows + start)
            out_subs.append(subs)
        return np.concatenate(out_rows), np.concatenate(out_subs)

    # ------------------------------------------------------------ leaves

    def _eval_generic_leaf(self, leaf, col, n: int) -> np.ndarray:
        op = leaf.op
        operand = leaf.operand

        if op in (Op.IS_NULL, Op.IS_NOT_NULL):
            return col.mask.copy() if op is Op.IS_NULL else ~col.mask
        if op in (Op.IS_EMPTY, Op.IS_NOT_EMPTY):
            empty = col.lengths == 0
            result = empty if op is Op.IS_EMPTY else ~empty
            return _true_mask(result, col.mask)

        if op is Op.VAR:
            return _true_mask(col.values, col.mask)
        if op is Op.NVAR:
            return _true_mask(~col.values, col.mask)

        if op in (Op.EQ, Op.NE, Op.LT, Op.LE, Op.GT, Op.GE):
            if isinstance(operand, Decimal):
                cmp_op, threshold = (
                    _decimal_threshold(op, operand)
                    if op in (Op.LT, Op.LE, Op.GT, Op.GE)
                    else (op, None)
                )
                if op is Op.EQ or op is Op.NE:
                    frac = _scaled_int_from_decimal_literal(operand)
                    if frac.denominator != 1:
                        result = np.zeros(n, dtype=bool) if op is Op.EQ else np.ones(n, dtype=bool)
                    else:
                        result = col.values == int(frac)
                        if op is Op.NE:
                            result = ~result
                    return _true_mask(result, col.mask)
                values, literal, op = col.values, threshold, cmp_op
            elif isinstance(operand, str):
                if col.codes is not None:
                    code = col.uniq_map.get(operand, -2)  # -2: absent
                    result = (
                        col.codes == code if op is Op.EQ else col.codes != code
                    )
                    return _true_mask(result, col.mask)
                series = col.str_series
                if op is Op.EQ:
                    result = (series == operand).to_numpy(dtype=bool)
                else:
                    result = (series != operand).to_numpy(dtype=bool)
                return _true_mask(result, col.mask)
            else:
                values, literal = col.values, operand
            if op is Op.EQ:
                result = values == literal
            elif op is Op.NE:
                result = values != literal
            elif op is Op.LT:
                result = values < literal
            elif op is Op.LE:
                result = values <= literal
            elif op is Op.GT:
                result = values > literal
            else:
                result = values >= literal
            return _true_mask(result, col.mask)

        if op in (Op.IN, Op.NOT_IN):
            if isinstance(operand[0], str):
                if col.codes is not None:
                    m = col.uniq_map
                    op_codes = np.array(
                        [m[v] for v in operand if v in m], dtype=np.int64
                    )
                    result = np.isin(col.codes, op_codes)
                else:
                    result = col.str_series.isin(operand).to_numpy(dtype=bool)
            else:
                result = np.isin(col.values, np.array(operand, dtype=np.int64))
            if op is Op.NOT_IN:
                result = ~result
            return _true_mask(result, col.mask)

        # list operators over the flattened column
        if isinstance(operand[0], str):
            if col.fcodes is not None:
                m = col.funiq_map
                op_codes = np.array(
                    [m[v] for v in operand if v in m], dtype=np.int64
                )
                member = np.isin(col.fcodes, op_codes)
            else:
                member = pd.Series(col.flat).isin(operand).to_numpy(dtype=bool) \
                    if len(col.flat) else np.empty(0, dtype=bool)
        else:
            member = np.isin(col.flat, np.array(operand, dtype=np.int64))
        n_rows = col.n
        if op in (Op.ONE_OF, Op.NONE_OF):
            hits = np.bincount(col.row_ids[member], minlength=n_rows) > 0
            result = hits if op is Op.ONE_OF else ~hits
        else:  # ALL_OF / NOT_ALL_OF: no non-member elements; empty -> all-of
            violations = np.bincount(col.row_ids[~member], minlength=n_rows) > 0
            result = ~violations if op is Op.ALL_OF else violations
        return _true_mask(result, col.mask)

    def _subset_col(self, col, idx: np.ndarray):
        """Row-subset view of a prepared column (lazy-leaf evaluation on
        candidate rows only)."""
        if isinstance(col, _ScalarColumn):
            sub = _ScalarColumn(
                col.mask[idx],
                None if col.values is None else col.values[idx],
                None
                if col.str_series is None
                else col.str_series.iloc[idx].reset_index(drop=True),
                codes=None if col.codes is None else col.codes[idx],
                uniques=col.uniques,
            )
            sub._uniq_map = col._uniq_map
            return sub
        offsets = col.offsets
        lengths = col.lengths[idx]
        total = int(lengths.sum())
        if total:
            starts = offsets[idx]
            gather = np.repeat(starts, lengths) + (
                np.arange(total, dtype=np.int64)
                - np.repeat(np.concatenate([[0], np.cumsum(lengths)[:-1]]), lengths)
            )
        else:
            gather = np.empty(0, dtype=np.int64)
        sub = _ListColumn.from_parts(
            col.mask[idx],
            lengths,
            None if col.flat is None else col.flat[gather],
            vids=None if col.vids is None else col.vids[gather],
            fcodes=None if col.fcodes is None else col.fcodes[gather],
            funiques=col.funiques,
        )
        sub._funiq_map = col._funiq_map
        return sub

    def _eval_leaves(self, cache: dict, n: int, lazy_true: bool = False) -> np.ndarray:
        forest = self.forest
        leaf_values = np.empty((len(forest.leaves), n), dtype=bool)

        # grouped equality: one searchsorted + scatter per attribute
        for attr_index, sorted_ops, leaf_idxs in self.eq_groups:
            col = cache[attr_index]
            if sorted_ops.dtype.kind in ("U", "O"):
                if col.codes is not None:
                    m = {v: i for i, v in enumerate(sorted_ops)}
                    lookup = np.append(
                        np.array(
                            [m.get(u, -1) for u in col.uniques],
                            dtype=np.int64,
                        ),
                        -1,   # trailing slot: null codes (-1) land here
                    )
                    pos = lookup[col.codes]
                else:
                    codes = pd.Series(col.str_series).map(
                        {v: i for i, v in enumerate(sorted_ops)}
                    )
                    pos = codes.fillna(-1).to_numpy(dtype=np.int64)
                hit = pos >= 0
            else:
                pos = np.searchsorted(sorted_ops, col.values)
                pos_clipped = np.minimum(pos, len(sorted_ops) - 1)
                hit = sorted_ops[pos_clipped] == col.values
                pos = pos_clipped
            rows = np.arange(n)
            group_rows = np.zeros((len(leaf_idxs), n), dtype=bool)
            group_rows[pos[hit], rows[hit]] = True
            if col.mask.any():
                group_rows[:, col.mask] = False
            leaf_values[leaf_idxs, :] = group_rows

        for group in self.member_groups:
            leaf_values[group.leaf_idxs, :] = group.evaluate(
                cache[group.attr_index], n
            )

        for leaf_idx in self.generic_leaves:
            if lazy_true and leaf_idx in self._lazy_set:
                leaf_values[leaf_idx] = True  # monotone upper bound
                continue
            leaf = self.forest.leaves[leaf_idx]
            leaf_values[leaf_idx] = self._eval_generic_leaf(
                leaf, cache[leaf.attr_index], n
            )
        return leaf_values

    # ------------------------------------------------------------ sweep

    def _chunk_rows(self, n_rows: int) -> int:
        nodes = max(1, self.forest.num_nodes)
        # packed sweep: nodes x n/8 bytes per buffer
        chunk = (self.memory_budget * 8) // nodes
        return int(max(1024, min(32768, chunk, max(n_rows, 1))))

    def evaluate(self, pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
        """Returns (row_positions, sub_ids): one pair per (row, matching
        subscription). Row positions index into pdf."""
        n_total = len(pdf)
        if n_total == 0 or len(self.sub_ids) == 0:
            return np.empty(0, dtype=np.int64), self.sub_ids[:0]

        chunk = self._chunk_rows(n_total)
        out_rows: list[np.ndarray] = []
        out_subs: list[np.ndarray] = []
        for start in range(0, n_total, chunk):
            stop = min(start + chunk, n_total)
            piece = pdf.iloc[start:stop] if (start, stop) != (0, n_total) else pdf
            rows, subs = self._evaluate_chunk(piece)
            out_rows.append(rows + start)
            out_subs.append(subs)
        return np.concatenate(out_rows), np.concatenate(out_subs)

    def _evaluate_chunk(self, pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
        return self.evaluate_prepared(self._columns(pdf), len(pdf))

    def _buffers(self, nb: int):
        """Persistent per-chunk-size work buffers (nb = packed bytes per
        node row). Without reuse, every level op allocates+frees a
        multi-MB temp, which glibc serves via mmap/munmap — measured
        30-40% kernel time across 32 workers from page faulting alone.
        Leading-axis slices stay C-contiguous, so np.take writes into
        them directly."""
        cached = getattr(self, "_buf_cache", None)
        if cached is None:
            cached = self._buf_cache = {}
        bufs = cached.get(nb)
        if bufs is None:
            if len(cached) > 4:
                cached.clear()
            nn = max(self.forest.num_nodes, 1)
            widest = max(
                (hi - lo for _, lo, hi, _, _ in self.levels),
                default=1,
            )
            widest = max(widest, self.n_leaf_nodes, 1)
            bufs = cached[nb] = (
                np.empty((nn, nb), dtype=np.uint8),       # packed node truth bits
                np.empty((widest, nb), dtype=np.uint8),   # left gather
                np.empty((widest, nb), dtype=np.uint8),   # right gather
            )
        return bufs

    def evaluate_prepared(
        self, cache: dict[int, object], n: int
    ) -> tuple[np.ndarray, np.ndarray]:
        """Evaluate from prepared column caches (attr_index -> scalar/
        list column). Fused kernels build these straight from Arrow
        arrays; callers are responsible for chunking to a cache-friendly
        n (see _chunk_rows).

        The interior sweep runs on PACKED truth bitsets (1 bit/row, the
        batch form of the reference's bitset memo, src/evaluation.rs):
        in NNF, Kleene TRUE propagates monotonically — AND=min and
        OR=max can never turn UNKNOWN into TRUE — so 'is the node TRUE'
        is closed under plain bitwise AND/OR of TRUE-bits. Tri-state
        codes exist only at the leaf layer (null semantics); packing
        cuts sweep memory traffic 8x, which is the binding resource at
        32 concurrent workers (measured 3x per-process cpu inflation
        from DRAM saturation with byte-wide sweeps)."""
        rows, root_idx = self.evaluate_prepared_roots(cache, n)
        return self.expand_roots(rows, root_idx)

    def evaluate_prepared_roots(
        self, cache: dict[int, object], n: int
    ) -> tuple[np.ndarray, np.ndarray]:
        """Root-level matches: (row_positions, root_index) pairs, where
        root_index indexes ``root_nodes``/``root_sub_counts``. Decoding
        per DISTINCT root (not per subscription) makes the gather +
        nonzero + unpack proportional to the CSE-deduped forest, and
        lets aggregation kernels combine counts BEFORE the root->sub
        expansion (the expansion is a pure multiplicity joint —
        ``expand_roots`` — or a tiny broadcast join on the Spark side)."""
        if self.access_pruning and self.lazy_leaf_idxs:
            return self._evaluate_two_phase(cache, n)
        leaf_values = self._eval_leaves(cache, n)

        nb = self._packed_width(n)
        values, gather_a, gather_b = self._buffers(nb)

        # leaf truth bits (leaf layer already collapses UNKNOWN to 0)
        leaf_bits = self._pack_padded(leaf_values, nb)
        self._sweep(values, gather_a, gather_b, leaf_bits)
        return self._decode_roots(values, n)

    @staticmethod
    def _packed_width(n: int) -> int:
        """Packed bytes per node row, rounded up to a multiple of 8 so
        the decode can scan the root block as uint64 words (zero pad
        bytes are preserved by AND/OR, so the rounding is free)."""
        return ((n + 63) // 64) * 8

    @staticmethod
    def _pack_padded(leaf_values: np.ndarray, nb: int) -> np.ndarray:
        packed = np.packbits(leaf_values, axis=1, bitorder="little")
        if packed.shape[1] == nb:
            return packed
        out = np.zeros((packed.shape[0], nb), dtype=np.uint8)
        out[:, : packed.shape[1]] = packed
        return out

    def _sweep(self, values, gather_a, gather_b, leaf_bits) -> None:
        """Bottom-up packed truth propagation over the DAG levels.
        Level-contiguous layout: each level's result lands via
        ``out=values[lo:hi]`` — no fancy scatter, and leaf bits gather
        straight into the leaf block slice."""
        np.take(leaf_bits, self.leaf_of_node, axis=0,
                out=values[: self.n_leaf_nodes])

        for kind, lo, hi, left, right in self.levels:
            k = hi - lo
            a = gather_a[:k]
            b = gather_b[:k]
            np.take(values, left, axis=0, out=a)
            np.take(values, right, axis=0, out=b)
            if kind == AND:
                np.bitwise_and(a, b, out=values[lo:hi])
            else:
                np.bitwise_or(a, b, out=values[lo:hi])

    def _decode_roots(self, values, n: int) -> tuple[np.ndarray, np.ndarray]:
        """Decode (row, root_index) pairs straight from the values
        buffer: roots are contiguous segments (roots-first block layout,
        _plan_levels), so no gather into a separate matched matrix. Each
        segment scans word-first as uint64 (8x fewer scan elements —
        measured 3.6x faster than a 2D byte nonzero, the decode hot loop
        at 1e5 subscriptions), expands only hit words to bytes, and
        unpacks only nonzero bytes."""
        nb = values.shape[1]
        eight = np.arange(8, dtype=np.int64)
        out_rows: list[np.ndarray] = []
        out_roots: list[np.ndarray] = []
        root_base = 0
        for lo, k in self.root_segments:
            flat = values[lo : lo + k].reshape(-1)
            word_idx = np.flatnonzero(flat.view(np.uint64))
            if len(word_idx):
                cand = ((word_idx[:, None] << 3) + eight).ravel()
                sel = flat[cand]
                hit = sel != 0
                byte_idx = cand[hit]
                sel = sel[hit]
                local_root = byte_idx // nb
                byte_pos = byte_idx - local_root * nb
                bits = np.unpackbits(
                    sel[:, None], axis=1, bitorder="little"
                ).astype(bool)
                pair_idx, bit_idx = np.nonzero(bits)
                row_pos = byte_pos[pair_idx] * 8 + bit_idx
                keep = row_pos < n  # strip pad bits of the last partial byte
                out_rows.append(row_pos[keep].astype(np.int64))
                out_roots.append(
                    (local_root[pair_idx][keep] + root_base).astype(np.int64)
                )
            root_base += k
        if not out_rows:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
        return np.concatenate(out_rows), np.concatenate(out_roots)

    def expand_roots(
        self, rows: np.ndarray, root_idx: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray]:
        """(row, root) pairs -> (row, sub_id) pairs via the root CSR."""
        if len(rows) == 0:
            return rows, self.sub_ids[:0]
        counts = self.root_sub_counts[root_idx]
        out_rows = np.repeat(rows, counts)
        starts = self.root_sub_offsets[root_idx]
        total = int(counts.sum())
        offsets = np.repeat(starts, counts)
        within = np.arange(total, dtype=np.int64) - np.repeat(
            np.concatenate([[0], np.cumsum(counts)[:-1]]), counts
        )
        return out_rows, self.root_sub_ids[offsets + within]

    # --------------------------------------- two-phase access pruning

    def _parent_csr(self):
        """child slot -> parent slots CSR (P_ids, P_off, counts), built
        once per evaluator: the downward candidate pass pulls each
        node's parents instead of scattering to children (see
        _evaluate_two_phase). Total size = 2 x interior nodes."""
        cached = getattr(self, "_parent_csr_cache", None)
        if cached is not None:
            return cached
        nn = max(self.forest.num_nodes, 1)
        children, parents = [], []
        for _, lo, hi, left, right in self.levels:
            ps = np.arange(lo, hi, dtype=np.int64)
            children.append(left)
            parents.append(ps)
            children.append(right)
            parents.append(ps)
        if children:
            ch = np.concatenate(children)
            pa = np.concatenate(parents)
            order = np.argsort(ch, kind="stable")
            p_ids = pa[order]
            counts = np.bincount(ch, minlength=nn)
        else:
            p_ids = np.empty(0, dtype=np.int64)
            counts = np.zeros(nn, dtype=np.int64)
        p_off = np.concatenate(([0], np.cumsum(counts)))
        self._parent_csr_cache = (p_ids, p_off, counts)
        return self._parent_csr_cache

    def _pruning_buffers(self, nb: int):
        cached = getattr(self, "_prune_buf_cache", None)
        if cached is None:
            cached = self._prune_buf_cache = {}
        bufs = cached.get(nb)
        if bufs is None:
            if len(cached) > 4:
                cached.clear()
            nn = max(self.forest.num_nodes, 1)
            nl = max(len(self.forest.leaves), 1)
            bufs = cached[nb] = (
                np.empty((nn, nb), dtype=np.uint8),   # candidate bits/node
                np.empty((nl, nb), dtype=np.uint8),   # candidate bits/leaf
            )
        return bufs

    def _evaluate_two_phase(
        self, cache: dict[int, object], n: int
    ) -> tuple[np.ndarray, np.ndarray]:
        """Access pass -> candidate propagation -> lazy pass -> exact
        sweep (the vectorized two-phase of _plan_access).

        Phase 1 evaluates only access leaves, assumes every LAZY leaf
        TRUE, and sweeps: because NNF truth is monotone, the result is a
        sound upper bound — any root FALSE here is exactly FALSE.
        The downward pass then computes, per node, the packed row set
        where its exact value is still needed: a child inherits
        cand(parent) & ub(parent) (rows where the parent can still be
        TRUE and is itself needed) — for an AND's right child, ub(parent)
        already includes the access sibling's truth, which is precisely
        the reference's 'evaluate the delayed predicate only where the
        access predicate fired' (src/atree.rs:568-574). Phase 2
        evaluates each lazy leaf on its candidate rows (dense fallback
        above DENSE_FRACTION); phase 3 re-sweeps with exact bits."""
        leaf_values = self._eval_leaves(cache, n, lazy_true=True)

        nb = self._packed_width(n)
        values, gather_a, gather_b = self._buffers(nb)
        cand, leaf_cand = self._pruning_buffers(nb)

        leaf_bits = self._pack_padded(leaf_values, nb)
        self._sweep(values, gather_a, gather_b, leaf_bits)  # upper bound

        # downward candidate pass as a parent PULL over a precomputed
        # child->parents CSR: each block (descending by height, leaves
        # last) takes its parents' (cand & ub) rows — parents are final
        # because their blocks came earlier — and OR-combines them per
        # node with one vectorized reduceat. The round-3 form scattered
        # parent contributions to children with np.bitwise_or.at, whose
        # unbuffered element loop was the largest single line of the
        # pruned evaluator after the offsets cache (profiled round 4).
        # Root seeding reads contiguous root segments (slot layout).
        cand[:] = 0
        for lo, k in self.root_segments:
            cand[lo : lo + k] = values[lo : lo + k]
        P_ids, P_off, P_counts = self._parent_csr()
        blocks = [(lo, hi) for _, lo, hi, _, _ in reversed(self.levels)]
        blocks.append((0, self.n_leaf_nodes))
        for lo, hi in blocks:
            _pull_block(cand, values, P_ids, P_off, P_counts, lo, hi)

        # leaves are interned (one node per distinct predicate), so
        # leaf_of_node is injective and plain indexed assignment
        # replaces the unbuffered bitwise_or.at scatter
        leaf_cand[:] = 0
        leaf_cand[self.leaf_of_node] = cand[: self.n_leaf_nodes]

        # phase 2: lazy leaves on candidate rows only. Leaves whose
        # candidate bitset is entirely ZERO are skipped without even an
        # unpack: by the downward-pass invariant their value cannot
        # affect any root on any row, so the upper-bound TRUE bits may
        # stay in leaf_bits (writing FALSE, as the k==0 branch below
        # does, is equally valid — both are unobservable at the roots).
        # On heavy-tailed workloads (skewed_page_subscriptions: ~25k
        # distinct wide all-of leaves, each selective) most lazy leaves
        # have no candidates in most batches, and the per-leaf python
        # iteration itself was the phase-2 floor. One vectorized
        # any-reduction finds the live subset.
        lazy_arr = np.asarray(self.lazy_leaf_idxs, dtype=np.int64)
        live = lazy_arr[leaf_cand[lazy_arr].any(axis=1)] if len(lazy_arr) else lazy_arr
        for leaf_idx in live:
            mask = np.unpackbits(
                leaf_cand[leaf_idx], bitorder="little"
            )[:n].astype(bool)
            k = int(mask.sum())
            leaf = self.forest.leaves[leaf_idx]
            if k == 0:
                row = np.zeros(n, dtype=bool)
            elif k >= self.DENSE_FRACTION * n:
                row = self._eval_generic_leaf(leaf, cache[leaf.attr_index], n)
            else:
                idx = np.flatnonzero(mask)
                sub = self._subset_col(cache[leaf.attr_index], idx)
                row = np.zeros(n, dtype=bool)
                row[idx] = self._eval_generic_leaf(leaf, sub, k)
            packed_row = np.packbits(row, bitorder="little")
            leaf_bits[leaf_idx, : len(packed_row)] = packed_row

        self._sweep(values, gather_a, gather_b, leaf_bits)  # exact
        return self._decode_roots(values, n)
