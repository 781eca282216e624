"""Triple-pattern access-path selection over the sorted materializations.

The reference picks the best index order per pattern mask
(BitmapTriples.search, core/triples/impl/BitmapTriples.java:303-378;
order masks core/enums/TripleComponentOrder.java:41-61): bound-subject
patterns walk the SPO structure, ?PO/??O use the FOQ/OPS index, ?P?
the predicate index (PredicateIndexArray.java:72-150). Here the
"indexes" are the SPO-, OPS- and PSO-sorted tables: choosing a table +
pushing the equality filters gives Parquet min/max row-group pruning
on the leading sort key — the same leading-component range location
rank/select provides in HDT (AdjacencyList.java), done by the columnar
reader instead.

One planner, two executors. `plan_bgp` fixes a BGP's join order (greedy,
smallest estimate first) and its variables' ID roles. `scan_bgp` runs
the plan on Spark, where Catalyst does pushdown, pruning and codegen.
`plans.local.local_bgp` runs the same plan on the driver when the
engine has the committed tables' row-group directories and every
pattern's candidate row groups are small: pyarrow reads and bind-joins
them with no distributed job, as the reference's in-process
`BitmapTriples.search` answers a pattern by range location.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def choose_order(s: int | None, p: int | None, o: int | None) -> str:
    """Pattern mask -> table (sort order) choice: route to the table
    whose LEADING sort keys are bound, so the pushed filters prune
    consecutive key prefixes (TripleComponentOrder mask matching,
    core/enums/TripleComponentOrder.java:41-61 fireSearchOrderer).
    Composite masks prefer a table where BOTH bound components lead:
    S?O -> SOP (s,o are its first two keys), ?PO -> POS."""
    if s is not None and o is not None and p is None:
        return "sop"  # S?O: both bound keys lead SOP
    if s is not None:
        return "spo"  # S??, SP?, SPO: leading subject (+p second) prunes SPO
    if p is not None and o is not None:
        return "pos"  # ?PO: both bound keys lead POS
    if o is not None:
        return "ops"  # ??O: leading object prunes OPS
    if p is not None:
        return "pso"  # ?P?: leading predicate prunes PSO
    return "spo"  # ???: sequential scan; predicate_index gives stats


#: fallback chain when an alternate-order table was not materialized —
#: same behavior as the reference when an index file is absent
_FALLBACK = {"sop": "spo", "pos": "ops", "pso": "spo", "osp": "ops"}


def scan_pattern(
    spo: DataFrame,
    ops: DataFrame,
    s: int | None = None,
    p: int | None = None,
    o: int | None = None,
    pso: DataFrame | None = None,
    sop: DataFrame | None = None,
    pos: DataFrame | None = None,
    osp: DataFrame | None = None,
) -> DataFrame:
    """Return matching (s,p,o) rows using the best-sorted table, with
    the graph id `g` when the tables are quads. Without an
    alternate-order materialization the mask degrades to the nearest
    mandatory table (SPO/OPS) — correct, less pruned; the reference
    has the same fallback when an alternate-order index was not
    generated."""
    tables = {"spo": spo, "ops": ops, "pso": pso, "sop": sop,
              "pos": pos, "osp": osp}
    order = choose_order(s, p, o)
    if tables[order] is None:
        order = _FALLBACK[order]
    df = tables[order]
    keep = [c for c in ("s", "p", "o", "g") if c in df.columns]
    for col, val in (("s", s), ("p", p), ("o", o)):
        if val is not None:
            df = df.filter(F.col(col) == val)
    return df.select(*keep)


# --- cardinality-driven BGP planning ------------------------------------
#
# The reference feeds per-predicate statistics into its query optimizer
# (EndpointStoreEvaluationStatisticsHDT.java:11-61) so BGP join order
# follows selectivity. Here the same stats table (encoding.indexes.
# predicate_index) drives a greedy smallest-first join order. One
# planner (plan_bgp) feeds two executors: scan_bgp, whose leaves are
# routed scan_pattern frames joined by Spark, and plans.local.local_bgp,
# which evaluates a bounded BGP on the driver over the committed
# tables' row groups.


class PatternStats:
    """Cardinality estimates from the predicate_index stats table
    (p, n_triples, n_subjects, n_objects, ...) — ≤|P| rows, read once;
    the per-predicate dicts are what the reference keeps in its
    PredicateIndex-backed statistics object. Takes the table as a
    DataFrame (collected) or as a pyarrow Table (a committed table read
    on the driver, no Spark job)."""

    def __init__(self, predicate_stats):
        if isinstance(predicate_stats, pa.Table):
            rows = predicate_stats.to_pylist()
        else:
            rows = [r.asDict() for r in predicate_stats.collect()]
        self.by_p = {r["p"]: r for r in rows}
        self.total = sum(r["n_triples"] for r in rows) or 1

    def estimate(self, s, p, o) -> float:
        """Expected matching rows for a triple pattern (None = free)."""
        if p is not None and p in self.by_p:
            st = self.by_p[p]
            n, ns, no = st["n_triples"], st["n_subjects"], st["n_objects"]
        elif p is not None:  # unknown predicate: matches nothing
            return 0.0
        else:
            n, ns, no = self.total, self.total, self.total
        card = float(n)
        if s is not None:
            card /= max(ns, 1)
        if o is not None:
            card /= max(no, 1)
        return max(card, 1e-9)


#: rows under which a BGP join side is explicitly broadcast — ~100k
#: 8-byte-ish rows is well inside any executor's memory and saves the
#: exchange on the big probe side
BGP_BROADCAST_ROWS = 100_000


def pattern_vars(pat: tuple) -> dict[str, str]:
    """{variable: first position} of one (s, p, o) pattern, or of an
    (s, p, o, g) pattern over quads, in s, p, o, g order; a variable
    repeated within the pattern keeps its first position (the others
    become equality filters)."""
    out: dict[str, str] = {}
    for k, v in zip("spog", pat):
        if isinstance(v, str):
            out.setdefault(v, k)
    return out


@dataclass
class BgpStep:
    """One pattern of a planned BGP, in join order."""

    pattern: tuple  # (s, p, o[, g]): int id (bound) or variable name
    on: list[str]  # variables shared with the steps before it
    est: float  # estimated matching rows of the pattern alone
    distincts: dict[str, float]  # V(var) estimate per variable


def plan_bgp(
    patterns: list[tuple], stats: PatternStats | None = None
) -> tuple[list[BgpStep], dict[str, str]]:
    """(steps, roles) of a basic graph pattern.

    Join order: greedy smallest-estimated-cardinality first, never
    introducing a cartesian product while a connected pattern exists —
    the textbook selectivity-driven BGP ordering. Without stats a
    pattern's estimate is its number of variables.

    roles: the ID space of each variable — 's', 'o', 'p' or 'g' for
    the position it is bound in, 'so' for a variable bound in subject
    position and in object position (see scan_bgp's n_shared). A
    variable in predicate or graph position and in any other position
    raises NotImplementedError: predicate and graph ids are their own
    namespaces."""

    def est(pat):
        if stats is None:
            return len(pat) - len(pattern_vars(pat))
        return stats.estimate(*(None if isinstance(v, str) else v for v in pat[:3]))

    def distincts(pat) -> dict[str, float]:
        """V(var): distinct-value estimate per variable of one leaf,
        from the predicate stats (n_subjects/n_objects)."""
        s, p, o = pat[:3]
        st = None if stats is None or isinstance(p, str) else stats.by_p.get(p)
        if st is None:
            return {}
        out = {}
        if isinstance(s, str):
            out[s] = float(st["n_subjects"])
        if isinstance(o, str):
            out[o] = float(st["n_objects"])
        return out

    remaining = sorted(patterns, key=est)
    steps: list[BgpStep] = []
    seen: set[str] = set()
    while remaining:
        connected = [i for i, pat in enumerate(remaining)
                     if set(pattern_vars(pat)) & seen]
        pat = remaining.pop(connected[0] if connected else 0)
        names = pattern_vars(pat)
        steps.append(BgpStep(pat, sorted(set(names) & seen), est(pat),
                             distincts(pat)))
        seen |= set(names)
    roles: dict[str, str] = {}
    for step in steps:
        for role, v in zip("spog", step.pattern):
            if not isinstance(v, str):
                continue
            prev = roles.get(v)
            if prev is None or prev == role:
                roles[v] = role
            elif {prev, role} <= {"s", "o", "so"}:
                roles[v] = "so"  # joined across roles -> SH-only
            else:
                raise NotImplementedError(
                    f"variable ?{v} is used in both {prev!r} and {role!r} "
                    "position; predicate and graph IDs live in separate "
                    "namespaces — rewrite the query or join on decoded "
                    "terms"
                )
    return steps, roles


def scan_bgp(
    spo,
    ops,
    patterns: list[tuple],
    stats: PatternStats | None = None,
    pso=None,
    broadcast_rows: int = BGP_BROADCAST_ROWS,
    n_shared: int | None = None,
    roles_out: dict | None = None,
) -> DataFrame:
    """Execute a basic graph pattern on Spark: each pattern is an
    (s, p, o) tuple whose elements are ints (bound) or strings
    (variable names). Returns one column per variable. Over quad
    tables (s, p, o, g) a pattern may carry a fourth element, the
    variable that binds the quad's graph id: patterns that share it
    join within one graph (a constant graph is a filter on the
    tables instead).

    Join order and variable roles come from plan_bgp. BUILD/PROBE
    side: when stats estimate one side under `broadcast_rows`, that
    side is explicitly broadcast (the stats-driven analog of the
    reference feeding PredicateIndex counts to its join optimizer,
    EndpointStoreEvaluationStatisticsHDT.java:11-61); the accumulated
    cardinality is propagated with the textbook |A||B|/max(V(A,y),
    V(B,y)) estimate using the per-predicate distinct-subject/object
    counts as V.

    n_shared — size of the dictionary's shared (SH) section. In the
    HDT ID scheme, subject and object IDs denote the SAME term only in
    1..n_shared (FourSectionDictionary: S-only and O-only ids both
    start at n_shared+1, so a numeric collision between them is a
    DIFFERENT pair of terms — BaseDictionary.java:120-174). A variable
    bound in subject position by one pattern and object position by
    another therefore joins on term identity only under `id <=
    n_shared`; passing n_shared enables that guard (a leading-range
    filter on every leaf that binds the variable, so it tightens
    Parquet pruning too). Without it the join falls back to raw id
    equality — exact whenever the vocabulary puts every cross-role
    join term in SH (true of this repo's extraction grammar), but not
    in general.
    """
    steps, roles = plan_bgp(patterns, stats)

    def leaf(pat):
        df = scan_pattern(spo, ops, pso=pso, **{
            k: v for k, v in zip("spo", pat) if not isinstance(v, str)
        })
        # a variable repeated WITHIN one pattern (e.g. ('x', 1, 'x'))
        # means equality between those components: filter, then emit
        # the variable's column ONCE (else downstream joins see a
        # duplicate column name)
        first = pattern_vars(pat)
        for k, v in zip("spog", pat):
            if isinstance(v, str) and first[v] != k:
                df = df.filter(F.col(first[v]) == F.col(k))
                if n_shared is not None and {first[v], k} == {"s", "o"}:
                    # s==o id equality means term equality only in SH
                    df = df.filter(F.col(k) <= F.lit(n_shared))
        if n_shared is not None:
            for v, k in first.items():
                if roles[v] == "so":
                    df = df.filter(F.col(k) <= F.lit(n_shared))
        return df.select(*[F.col(k).alias(v) for v, k in first.items()])

    out = leaf(steps[0].pattern)
    acc_est = steps[0].est
    acc_v = dict(steps[0].distincts)
    for step in steps[1:]:
        right = leaf(step.pattern)
        on, r_est, r_v = step.on, step.est, step.distincts
        if not on:
            out = out.crossJoin(right)
            acc_est = acc_est * r_est
        else:
            # explicit build side when stats say one side is small;
            # otherwise leave the choice to Catalyst/AQE
            if stats is not None and r_est <= broadcast_rows and r_est <= acc_est:
                out = out.join(F.broadcast(right), on)
            elif stats is not None and acc_est <= broadcast_rows:
                out = right.join(F.broadcast(out), on)
            else:
                out = out.join(right, on)
            denom = max(
                [max(acc_v.get(v, 1.0), r_v.get(v, 1.0)) for v in on] or [1.0]
            )
            acc_est = acc_est * r_est / max(denom, 1.0)
        for v, d in r_v.items():
            acc_v[v] = min(acc_v.get(v, d), d)
    if roles_out is not None:
        roles_out.update(roles)
    return out


def join_bindings(
    left: DataFrame,
    right: DataFrame,
    how: str,
    left_roles: dict | None = None,
    right_roles: dict | None = None,
    n_shared: int | None = None,
) -> DataFrame:
    """Join two variable-binding frames on their shared columns with
    HDT shared-section semantics: a variable bound in subject role on
    one side and object role on the other matches by term only when
    its id falls in the SH range (<= n_shared) — see scan_bgp. Used
    for OPTIONAL (left), MINUS (left_anti) and cross-group joins where
    pre-filtering the left side would wrongly drop rows, so the guard
    goes into the join CONDITION instead."""
    on = sorted(set(left.columns) & set(right.columns))
    if not on:
        if how == "left_anti":
            return left  # never compatible -> nothing removed
        if how == "left_semi":
            # every pair is compatible: keep left rows iff right has any
            return left.join(right, F.lit(True), "left_semi")
        if how == "left":
            # disjoint OPTIONAL: every pair is compatible; an empty
            # right side still keeps the left rows (NULL-extended)
            return left.join(right, F.lit(True), "left")
        return left.crossJoin(right)
    guard_vars = set()
    if left_roles and right_roles:
        for v in on:
            lr, rr = left_roles.get(v), right_roles.get(v)
            if lr is None or rr is None:
                continue
            if lr != rr and not ({lr, rr} <= {"s", "o", "so"}):
                raise NotImplementedError(
                    f"variable ?{v} joins role {lr!r} against {rr!r} "
                    "across groups — predicate/graph IDs are separate "
                    "namespaces"
                )
            if n_shared is not None and (lr != rr or "so" in (lr, rr)):
                guard_vars.add(v)
    if not guard_vars:
        src = right.select(*on) if how in ("left_anti", "left_semi") else right
        return left.join(src, on, how)
    renamed = right
    for v in on:
        renamed = renamed.withColumnRenamed(v, f"__r_{v}")
    cond = None
    for v in on:
        c = left[v] == renamed[f"__r_{v}"]
        if v in guard_vars:
            c = c & (left[v] <= F.lit(n_shared))
        cond = c if cond is None else (cond & c)
    joined = left.join(renamed, cond, how)
    if how in ("left_anti", "left_semi"):
        return joined
    keep = [left[c] for c in left.columns] + [
        renamed[c] for c in renamed.columns if not c.startswith("__r_")
    ]
    return joined.select(*keep)


def scan_bgp_optional(
    spo,
    ops,
    required: list[tuple],
    optional: list[tuple],
    stats: PatternStats | None = None,
    pso=None,
    n_shared: int | None = None,
) -> DataFrame:
    """SPARQL OPTIONAL: solutions of `required` left-extended by the
    `optional` group on their shared variables (unmatched rows keep
    NULL bindings — RDF4J's LeftJoin node, supplied by the RDF4J
    algebra in the reference; here it is literally Catalyst's left
    outer join, so AQE still picks broadcast/SMJ per side)."""
    req_roles: dict = {}
    opt_roles: dict = {}
    req = scan_bgp(spo, ops, required, stats=stats, pso=pso,
                   n_shared=n_shared, roles_out=req_roles)
    opt = scan_bgp(spo, ops, optional, stats=stats, pso=pso,
                   n_shared=n_shared, roles_out=opt_roles)
    return join_bindings(req, opt, "left", req_roles, opt_roles, n_shared)


def scan_bgp_minus(
    spo,
    ops,
    required: list[tuple],
    minus: list[tuple],
    stats: PatternStats | None = None,
    pso=None,
    n_shared: int | None = None,
) -> DataFrame:
    """SPARQL MINUS: drop solutions that share bindings with a match of
    the `minus` group — an anti-join on the shared variables. With no
    shared variable the groups are never compatible, so (per SPARQL
    semantics) nothing is removed."""
    req_roles: dict = {}
    m_roles: dict = {}
    req = scan_bgp(spo, ops, required, stats=stats, pso=pso,
                   n_shared=n_shared, roles_out=req_roles)
    m = scan_bgp(spo, ops, minus, stats=stats, pso=pso,
                 n_shared=n_shared, roles_out=m_roles)
    return join_bindings(req, m, "left_anti", req_roles, m_roles, n_shared)
