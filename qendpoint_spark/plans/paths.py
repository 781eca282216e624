"""SPARQL 1.1 property-path evaluation over the encoded triple tables.

The reference serves property paths through its endpoint SAIL: RDF4J
plans `p1/p2`, `p1|p2`, `^p` as joins/unions/swaps of statement
iterators and evaluates `p+`/`p*`/`p{m,n}` with PathIteration's
breadth-first frontier over HDT statement lookups
(rdf4j PathIteration via qendpoint-store's EndpointTripleSource;
the per-step lookups are BitmapTriples.search,
core/triples/impl/BitmapTriples.java:303-378). The Spark realization
keeps the same algebra but swaps the per-binding iterator machinery
for set-at-a-time DataFrame ops:

  step        = routed triple-pattern scan (plans.pattern.scan_pattern
                -> leading-key-pruned SPO/PSO read), projected to
                (src, dst) long pairs
  ^p          = column swap (no data movement)
  p1/p2       = one equi-join on the shared node column
  p1|p2       = union + dedup
  p+ / p{1,k} = SEMI-NAIVE transitive closure: the frontier holds only
                pairs discovered last round; each round is one
                (frontier ⋈ edges) join plus an anti-join against the
                known set, both keyed on 8-byte ids

Edge frames over quads also carry the graph id `g`, and every join,
union and dedup below keys on it as well: `p+` inside `GRAPH ?g` is one
closure whose pairs stay within their graph, whatever the number of
graphs.

Scale notes (north_rule): every closure round shuffles only the NEW
pairs (the semi-naive differential — naive closure re-derives the full
reachability set each round), the per-round plan is cut with an eager
localCheckpoint exactly like the CC loop (linking/canonicalize.py), and
nothing wider than two longs enters any exchange. Unbounded `p+` on a
diameter-d graph runs d rounds; `p{1,k}` caps the rounds at k — the
form a 100-TB pipeline should prefer, since reachability output on a
long chain is inherently quadratic in the chain length no matter the
engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _keys(edges: DataFrame) -> list[str]:
    """The key columns an edge frame carries besides src and dst (the
    graph id of a graph-scoped path)."""
    return [c for c in edges.columns if c not in ("src", "dst")]


def path_step(
    spo: DataFrame,
    ops: DataFrame,
    p: int,
    pso: DataFrame | None = None,
    inverse: bool = False,
) -> DataFrame:
    """Base path step `p` (or `^p`): the (subject, object) pairs of
    triples with predicate id `p`, as (src, dst), plus `g` over quad
    tables. Routed through scan_pattern so a materialized PSO table
    serves the bound-predicate mask with leading-key pruning."""
    from qendpoint_spark.plans.pattern import scan_pattern

    rows = scan_pattern(spo, ops, p=p, pso=pso)
    a, b = ("o", "s") if inverse else ("s", "o")
    keys = [c for c in rows.columns if c not in ("s", "p", "o")]
    return rows.select(F.col(a).alias("src"), F.col(b).alias("dst"), *keys)


def path_inverse(edges: DataFrame) -> DataFrame:
    """`^path`: swap endpoints — a projection, never a shuffle."""
    return edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), *_keys(edges)
    )


def path_seq(
    first: DataFrame, second: DataFrame, n_shared: int | None = None
) -> DataFrame:
    """`path1/path2`: join on the middle node. Distinct pairs (SPARQL
    path results are sets of bindings over the endpoints; the middle
    node is projected away, so duplicates collapse).

    The middle join matches `first`'s OBJECT-role ids against
    `second`'s SUBJECT-role ids; in the HDT scheme those denote the
    same term only inside the shared section, so when `n_shared` is
    given both sides are clamped to `id <= n_shared` (see
    plans.pattern.scan_bgp — exact without the clamp only when every
    middle term is SH, as in this repo's grammar)."""
    keys = _keys(first)
    mid = second.select(
        F.col("src").alias("__mid"), F.col("dst").alias("dst2"), *keys
    )
    lhs = first.withColumnRenamed("dst", "__mid")
    if n_shared is not None:
        lhs = lhs.filter(F.col("__mid") <= F.lit(n_shared))
        mid = mid.filter(F.col("__mid") <= F.lit(n_shared))
    return (
        lhs.join(mid, ["__mid", *keys])
        .select(F.col("src"), F.col("dst2").alias("dst"), *keys)
        .dropDuplicates()
    )


def path_alt(*alternatives: DataFrame) -> DataFrame:
    """`path1|path2|...`: set union of the endpoint pairs."""
    out = alternatives[0]
    for alt in alternatives[1:]:
        out = out.unionByName(alt)
    return out.dropDuplicates()


def transitive_closure(
    edges: DataFrame,
    max_hops: int | None = None,
    max_iterations: int = 64,
    n_shared: int | None = None,
) -> DataFrame:
    """`p+` (max_hops=None) or `p{1,k}` (max_hops=k): distinct (src,
    dst) pairs connected by a directed path of >= 1 (and <= k) steps.

    Semi-naive evaluation: round r joins only the pairs first
    discovered in round r-1 against the base edges, then anti-joins the
    known set so already-derived pairs never re-enter the frontier —
    the frontier shrinks to empty on a diameter-d graph after d rounds.
    Both the join and the anti-join key on long id columns (one, plus
    the graph id when the edges carry it); the known set is
    re-checkpointed as it grows so the anti-join's right side stays a
    flat scan instead of a deepening union plan.
    """
    # NOTE: no src != dst filtering anywhere — SPARQL `p+` relates a
    # node to itself whenever a cycle returns to it (and a self-loop
    # edge is a valid 1-step path); the saturating anti-join terminates
    # regardless, because the reachable pair space is finite.
    keys = _keys(edges)
    base = edges.dropDuplicates().localCheckpoint(eager=True)
    # (src -> dst) joined on dst == base.src extends every known path by
    # one edge; project base once with renamed columns for the join
    ext = base.select(
        F.col("src").alias("__mid"), F.col("dst").alias("__next"), *keys
    )
    if n_shared is not None:
        # extension joins object-role dst to subject-role src: term
        # identity holds only in the shared section (see path_seq)
        ext = ext.filter(F.col("__mid") <= F.lit(n_shared))
    known = base
    frontier = base
    hops = 1
    while hops != max_hops and max_iterations > 0:
        max_iterations -= 1
        grown = (
            frontier.withColumnRenamed("dst", "__mid")
            .join(ext, ["__mid", *keys])
            .select(F.col("src"), F.col("__next").alias("dst"), *keys)
            .dropDuplicates()
        )
        new = grown.join(
            known, ["src", "dst", *keys], "left_anti"
        ).localCheckpoint(eager=True)
        if not new.take(1):
            break
        known = known.unionByName(new).localCheckpoint(eager=True)
        frontier = new
        hops += 1
    return known


def path_zero_or_more(
    edges: DataFrame, nodes: DataFrame | None = None
) -> DataFrame:
    """`p*` = `p+` ∪ zero-length paths. SPARQL's zero-length path
    relates every graph term to itself (RDF4J ZeroLengthPathIteration);
    scoped here to the nodes incident to the edge set unless a wider
    `nodes(src)` universe is supplied."""
    plus = transitive_closure(edges)
    keys = _keys(edges)
    if nodes is None:
        nodes = (
            edges.select("src", *keys)
            .unionByName(edges.select(F.col("dst").alias("src"), *keys))
            .distinct()
        )
    zero = nodes.select("src", F.col("src").alias("dst"), *keys)
    return path_alt(plus, zero)
