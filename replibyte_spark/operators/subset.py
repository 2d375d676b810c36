"""Referential-integrity-aware subset — the reference's algorithmic core,
restated as set-at-a-time semi-joins.

Reference: `PostgresSubset::visits` (/root/reference/subset/src/postgres.rs:104-172)
emits each sampled row, then for every FK relation re-scans the whole dump to
find referenced rows and recurses — O(rows × relations) full scans, with an
acknowledged unfixed cycle bug ("TODO break acyclic graph", :154) and a
spill-to-disk linear-probe dedup (subset/src/dedup.rs:9-63).

Here the same semantics run as an **iterative left-semi-join closure to
fixpoint**:

    keep[P] = P ⋉ (union of kept FK values referencing P)        (parents)
    keep[C] = C ⋉ kept parent keys                               (children, optional)

- Each iteration is one shuffle per active edge; iterations = FK-graph
  diameter (3-4 for TPC-H-like graphs), not row count.
- Cycles are safe: per-table kept-key sets grow monotonically and the loop
  stops when no set grows — the visited-set fix the reference left as TODO.
- Dedup is `distinct()` on key sets (hash shuffle), replacing the md5-bucket
  spill files.
- At scale every join is key-partitioned; AQE broadcasts the small key sets
  (region/nation level) automatically.

Direction semantics: the reference only follows FKs *outward* (child row →
referenced parent rows), which preserves RI for the sampled rows themselves.
A useful training-data subset usually also wants the *children* of sampled
rows (orders → their lineitems); `include_children=True` adds that — but only
from the seed's subtree.  Rows pulled in for RI (parents like customer) do
NOT re-expand their own children; otherwise a 20% orders sample would cascade
(kept customers → all their orders → all their lineitems → ...) back to ~100%
of the database.  Children's own FK targets (part, supplier) are still pulled
by the parent pass, so the result is a full RI closure of the seed subtree.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class FkEdge:
    """`child.fk_col` REFERENCES `parent.parent_col`.

    Reference analogue: `SubsetTableRelation {database, table, from_property,
    to_property}` (/root/reference/subset/src/lib.rs:57-123), extracted from
    `ALTER TABLE ... FOREIGN KEY` DDL (subset/src/postgres.rs:583-734).
    """

    child: str
    fk_col: str
    parent: str
    parent_col: str


@dataclass
class SubsetResult:
    tables: dict[str, DataFrame]          # table -> kept rows
    iterations: int


# The fixture star schema's FK graph (driver testdata; TPC-H-like).
FIXTURE_FK_EDGES = [
    FkEdge("lineitem", "l_orderkey", "orders", "o_orderkey"),
    FkEdge("lineitem", "l_partkey", "part", "p_partkey"),
    FkEdge("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    FkEdge("orders", "o_custkey", "customer", "c_custkey"),
    FkEdge("customer", "c_nationkey", "nation", "n_nationkey"),
    FkEdge("supplier", "s_nationkey", "nation", "n_nationkey"),
    FkEdge("nation", "n_regionkey", "region", "r_regionkey"),
]

PRIMARY_KEYS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": None,  # composite (l_orderkey, l_linenumber); not a FK target
}


def subset_closure(
    tables: dict[str, DataFrame],
    edges: list[FkEdge],
    seed_table: str,
    seed_df: DataFrame,
    *,
    include_children: bool = False,
    passthrough_tables: list[str] | None = None,
    max_iterations: int = 20,
) -> SubsetResult:
    """Compute the RI closure of `seed_df` over the FK graph.

    `tables` maps table name → full DataFrame.  Returns kept rows per table
    (passthrough tables whole, reference `passthrough_tables`
    /root/reference/subset/src/lib.rs:32-55).
    """
    passthrough = set(passthrough_tables or [])
    if _is_dag(edges):
        return _closure_topological(tables, edges, seed_table, seed_df,
                                    include_children=include_children,
                                    passthrough=passthrough)
    # ---- cyclic fallback: iterate to fixpoint ------------------------------
    # kept[t]: rows of t in the subset (deduped, persisted, monotone growth).
    # expand[t]: the subset of kept rows that still triggers child expansion —
    # seed + child-derived rows only; RI parents never re-expand children.
    #
    # Every merge materializes EAGERLY via localCheckpoint before any later
    # edge references it — checkpoint, NOT persist: each round's frame
    # references the previous round's through a self-referencing union
    # whose analysis REWRITES attribute ids, so the rewritten subtree never
    # matches the cache-manager entry and a persist()-based chain silently
    # recomputes the ENTIRE lineage every round (measured at sf0.1: count
    # time DOUBLING per round, 98s by round 7; checkpointed rounds are flat
    # ~0.5s — SCALE.md).  The eager checkpoint truncates the logical plan
    # itself, which also makes a separate every-N-rounds lineage cut
    # unnecessary.  A batched one-action-per-round variant was also tried
    # and is SLOWER: within one action the probe subtrees share
    # unmaterialized frames and race to recompute them.  Checkpointed RDDs
    # are swept by util.free_persistent_rdds / GC (bench.py runs both), the
    # r4 hygiene contract.  Two further optimizations: an edge whose child
    # set did not grow since it last ran is skipped (its contribution is
    # already folded in), and FK key projections feed the left-semi join
    # WITHOUT a distinct — semi-join semantics dedupe for free, and the
    # distinct was a whole extra shuffle per edge per round.

    sc = seed_df.sparkSession.sparkContext

    def _pinned_ids() -> set:
        return set(sc._jsc.getPersistentRDDs().keys())

    def _free_ids(ids: set) -> None:
        jmap = sc._jsc.getPersistentRDDs()
        for i in ids:
            jrdd = jmap.get(i)
            if jrdd is not None:
                jrdd.unpersist(False)

    # (store_name, table) -> the checkpoint-RDD ids the CURRENT frame pins.
    # Long fixpoints over graphs with many stagnant edges otherwise
    # accumulate one orphaned checkpoint per no-growth merge (and one per
    # superseded frame) in executor storage until JVM GC — which round 4
    # showed may never run while the session lives.  Freeing is safe only
    # for frames nothing else references: discarded candidates and
    # superseded per-(store, table) frames qualify; the seed checkpoint is
    # SHARED between kept[] and expand[] and is deliberately registered in
    # neither, so supersession never frees it.  The FINAL kept frames stay
    # pinned for the caller (bench/tests sweep them via
    # util.free_persistent_rdds afterwards).
    owned: dict[tuple[str, str], set] = {}

    def _merge(store, szs, table, new_rows, store_name) -> bool:
        """Eagerly union new_rows into store[table]; True if it grew.
        Discarded candidate checkpoints and superseded frames are
        unpersisted immediately instead of waiting for JVM GC."""
        before = _pinned_ids()
        if table not in store:
            m = new_rows.localCheckpoint(eager=True)
            n = m.count()
            if n == 0:
                _free_ids(_pinned_ids() - before)
                return False
        else:
            m = (store[table].unionByName(new_rows).distinct()
                 .localCheckpoint(eager=True))
            n = m.count()
            if n <= szs[table]:
                _free_ids(_pinned_ids() - before)
                return False
        _free_ids(owned.pop((store_name, table), set()))
        owned[(store_name, table)] = _pinned_ids() - before
        store[table], szs[table] = m, n
        return True

    seed_df = seed_df.localCheckpoint(eager=True)
    kept: dict[str, DataFrame] = {seed_table: seed_df}
    expand: dict[str, DataFrame] = {seed_table: seed_df}
    sizes: dict[str, int] = {seed_table: seed_df.count()}
    esizes: dict[str, int] = dict(sizes)
    active_k: set[str] | None = None    # grew last round; None = first round
    active_e: set[str] | None = None

    it = 0
    for it in range(1, max_iterations + 1):
        grew_k: set[str] = set()
        grew_e: set[str] = set()
        # ---- parent direction: FK targets of every kept row must be kept
        for e in edges:
            if e.child not in kept or e.parent in passthrough:
                continue
            if active_k is not None and e.child not in (active_k | grew_k):
                continue
            fk_keys = (kept[e.child]
                       .select(F.col(e.fk_col).alias(e.parent_col)).na.drop())
            rows = tables[e.parent].join(fk_keys, on=e.parent_col,
                                         how="leftsemi")
            if _merge(kept, sizes, e.parent, rows, "kept"):
                grew_k.add(e.parent)
        # ---- child direction (optional): children of the seed subtree only
        if include_children:
            for e in edges:
                if e.parent not in expand or e.child in passthrough:
                    continue
                if active_e is not None and e.parent not in (active_e | grew_e):
                    continue
                pk = expand[e.parent].select(
                    F.col(e.parent_col).alias(e.fk_col))
                rows = tables[e.child].join(pk, on=e.fk_col, how="leftsemi")
                if _merge(kept, sizes, e.child, rows, "kept"):
                    grew_k.add(e.child)
                # child-derived rows expand further; tracked separately from
                # kept so RI-derived rows of the same table never re-expand
                if _merge(expand, esizes, e.child, rows, "expand"):
                    grew_e.add(e.child)
        if not grew_k and not grew_e:
            break
        active_k, active_e = grew_k, grew_e

    for t in passthrough:
        kept[t] = tables[t]
    return SubsetResult(tables=kept, iterations=it)


def _is_dag(edges: list[FkEdge]) -> bool:
    """True when the `child → parent` digraph has no directed cycle.

    This one check covers the child pass too: the child pass traverses the
    REVERSED digraph, which has exactly the same cycles (a pair connected by
    edges both ways is a 2-cycle and is caught here like any other cycle)."""
    # parent digraph: child -> parent
    adj: dict[str, set[str]] = {}
    for e in edges:
        adj.setdefault(e.child, set()).add(e.parent)
    # detect cycle via DFS coloring
    color: dict[str, int] = {}

    def dfs(u: str) -> bool:
        color[u] = 1
        for v in adj.get(u, ()):  # noqa: B905
            if color.get(v) == 1:
                return False
            if color.get(v, 0) == 0 and not dfs(v):
                return False
        color[u] = 2
        return True

    return all(dfs(u) for u in list(adj) if color.get(u, 0) == 0)


def _closure_topological(tables, edges, seed_table, seed_df, *,
                         include_children, passthrough) -> SubsetResult:
    """Single-pass closure for acyclic FK graphs — the common case and the
    100 TB path: exactly one semi-join per traversed edge, no fixpoint
    counting jobs.  (The reference rescans the dump once per (row, relation)
    pair; the iterative fallback above still pays one checkpoint+count per
    grown table per round — this does neither.)

    Order:
    1. child pass: BFS from the seed along reversed edges (seed subtree).
    2. parent pass in Kahn topological order of `child → parent` edges, so a
       parent's kept set is computed only after every contributing child's
       kept set is final.

    Subtree re-evaluation note (r14 verdict #3 / r15 verdict #4 — measured,
    do not re-try): downstream branches re-evaluate their sources' semi-join
    lineages (the sf0.1 gate plan shows ~30 parquet scans / 68 Exchanges),
    but every attempt to share them was slower at one or both benched core
    counts.  r14: eager per-edge checkpoints (+2 s, six serialized jobs);
    lazy per-edge persists (2× worse at 8c, cache-fill races).  r15: a
    repartition(N, key) key hub (no AQE stage reuse — each consumer pushes
    its own inferred isnotnull(<key>) below the hub into the scan, so no
    two copies stay canonically equal; 25→34 stages, 3.7→7.3 MB shuffled,
    2.84→3.25 s); a distinct() hub (same pushdown differentiation, 0 new
    ReusedExchange); persisted hubs + one parallel union fill (immune to
    pushdown via analysis-time cache substitution, but 2.84→7.2 s at 32c);
    a single eager seed checkpoint (0.80× at 32c but 1.8× WORSE at 8c —
    the ExistingRDD seed loses parquet stats and the barrier serializes
    the saturated box).  Narrow per-table kept-key sets, one semi-join of
    each full table against its own set, measured on the lifecycle
    benchmark (seed-subset, sf0.003) and on the gates (sf0.1, local[4]):
    eager sets (localCheckpoint) and lazy ones (persist) both cut the
    dump's input records 242.6k → 66.8k but gave no op-time gain once the
    table writes run concurrently, and both slowed the single-action
    subset_parent_closure / subset_full_closure gates (warm-min
    0.58 → 0.78 s and 1.36 → 1.84 s eager, 0.79 s and 1.59 s lazy).
    The lazy shape — auto-BHJ everywhere, redundancy
    absorbed by parallel broadcast jobs — remains the best measured shape;
    the scale-correct fix is write-time layout (narrow per-table key-set
    sidecars written by the dump path for later closures to semi-join
    against), which cannot be demonstrated on the fixture gate without
    precomputing query inputs.
    """
    kept: dict[str, DataFrame] = {seed_table: seed_df}
    expand: dict[str, DataFrame] = {seed_table: seed_df}

    if include_children:
        # topo order over reversed edges (parent → child) so a child with
        # several kept parents (diamond) gets the union of all contributions
        child_order = _kahn_order(edges, reverse=True)
        for t in child_order:
            if t in passthrough or t == seed_table:
                continue
            contribs = []
            for e in edges:
                if e.child == t and e.parent in expand:
                    contribs.append(
                        tables[t].join(
                            expand[e.parent].select(F.col(e.parent_col).alias(e.fk_col)),
                            on=e.fk_col, how="leftsemi"))
            if not contribs:
                continue
            rows = contribs[0]
            for c in contribs[1:]:
                rows = rows.unionByName(c)
            if len(contribs) > 1:
                rows = rows.distinct()
            kept[t] = rows
            expand[t] = rows

    # parent pass in Kahn order of child → parent edges.  Contributions are
    # grouped BY PARENT COLUMN before the semi-join: a table referenced via
    # two different columns (orders.buyer_id → users.id AND
    # msgs.sender_email → users.email) must get one semi-join per column —
    # a positional unionAll across differently-named key sets would match
    # email values against the id column and silently drop rows.
    for t in _kahn_order(edges, reverse=False):
        if t in passthrough:
            continue
        by_col: dict[str, list[DataFrame]] = {}
        for e in edges:
            if e.parent == t and e.child in kept:
                by_col.setdefault(e.parent_col, []).append(
                    kept[e.child].select(F.col(e.fk_col).alias(e.parent_col)).na.drop())
        if not by_col:
            continue
        rows = None
        for pcol in sorted(by_col):
            keys = by_col[pcol][0]
            for c in by_col[pcol][1:]:
                keys = keys.unionAll(c)
            matched = tables[t].join(keys, on=pcol, how="leftsemi")
            rows = matched if rows is None else rows.unionByName(matched)
        if len(by_col) > 1:
            rows = rows.distinct()
        kept[t] = kept[t].unionByName(rows).distinct() if t in kept else rows

    for t in passthrough:
        kept[t] = tables[t]
    return SubsetResult(tables=kept, iterations=1)


def _kahn_order(edges: list[FkEdge], reverse: bool) -> list[str]:
    """Topological order of tables.  reverse=False: children before parents
    (follow `child → parent`); reverse=True: parents before children."""
    pairs = [((e.parent, e.child) if reverse else (e.child, e.parent))
             for e in edges]
    nodes = {t for p in pairs for t in p}
    indeg = {t: 0 for t in nodes}
    for _src, dst in pairs:
        indeg[dst] += 1
    order = [t for t in sorted(nodes) if indeg[t] == 0]
    queue = list(order)
    while queue:
        u = queue.pop(0)
        for src, dst in pairs:
            if src == u:
                indeg[dst] -= 1
                if indeg[dst] == 0:
                    order.append(dst)
                    queue.append(dst)
    return order


def verify_referential_integrity(
    tables: dict[str, DataFrame], edges: list[FkEdge]
) -> dict[str, int]:
    """FK-violation count per edge (0 everywhere ⇔ the subset restores
    cleanly).  Stronger than the reference's count assertions
    (subset/src/postgres.rs:917-975): `child ⟕ parent` anti-join must be
    empty for every edge."""
    out = {}
    for e in edges:
        if e.child not in tables or e.parent not in tables:
            continue
        child, parent = tables[e.child], tables[e.parent]
        violations = (
            child.filter(F.col(e.fk_col).isNotNull())
            .join(parent.select(F.col(e.parent_col).alias(e.fk_col)).distinct(),
                  on=e.fk_col, how="left_anti")
            .count()
        )
        out[f"{e.child}.{e.fk_col}->{e.parent}.{e.parent_col}"] = violations
    return out
