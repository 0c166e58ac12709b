"""Compile the Cypher AST onto the (nodes, edges) DataFrames.

Every construct lowers to declarative DataFrame ops, so the full
Catalyst stack applies: node-label predicates and property maps reach
the parquet scan as pushed filters, the per-hop joins participate in
broadcast / AQE planning, and RETURN aggregation is an ordinary partial
agg. The only driver-side iteration expands a variable-length
relationship ``*m..n`` or a shortestPath (Catalyst has no recursion): both
call the traversal kernel operators/graph_queries._levels, the one level
loop behind k_hop, paths_between and var_length_paths too.

Semantics notes (the deterministic closure of the reference's engine,
src/core/graph/query.ts:97-197):

- A variable-length match returns one row PER PATH (Cypher multiplicity),
  over the deduplicated edge set; paths are node-distinct (cycle-free),
  which on simple edges implies Cypher's relationship-uniqueness.
- RETURN uses Cypher's implicit grouping: if any item is an aggregate,
  all non-aggregate items become grouping keys.
- COLLECT() returns a SORTED array so output is deterministic under any
  partitioning (Cypher leaves the order unspecified).
- A bare variable item (``RETURN f``) expands to the node's columns as
  ``<name>_<col>`` (e.g. f_id, f_label, f_name, f_url).
- EXISTS((a)-[:T]->(b)) is supported as a top-level WHERE conjunct and
  compiles to a semi-join (anti-join when negated).
- OPTIONAL MATCH compiles to a LEFT OUTER join on the shared variables'
  ids; its WHERE is scoped to the optional pattern (applied before the
  join), matching Cypher, so non-matching rows survive with NULLs.
- WITH is a projection boundary: bare variables pass their column
  groups through (still matchable downstream), aliased items become
  scalars referencable by name, aggregates use the same implicit
  grouping as RETURN, and a WHERE after WITH filters the projected
  frame (Cypher's HAVING).
- ``p = shortestPath((a)-[:T*1..n]->(b))`` yields ONE row per reachable
  (a, b) pair at the minimum hop count (``length(p)``), found by the
  kernel's distance mode (a BFS frontier deduped per (a, node), so a
  level holds at most |a|·|V| rows); node lists are not exposed —
  operators/graph_queries.paths_between is the analogue that
  materializes the hops (reference query.ts:154).
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators import graph_queries as gq
from .ast import (BoolOp, Cmp, ExistsPat, InList, IsNull, Lit, MatchClause,
                  NodePat, Not, PathLen, Pattern, Prop, Query, RelPat,
                  ReturnItem, StrPred, UnwindClause, VarRef, WithClause)
from .parser import parse


class CypherCompileError(ValueError):
    pass


def _ncol(var: str, col: str) -> str:
    return f"__{var}__{col}"


class _PatternBuilder:
    """Builds one DataFrame per MATCH clause; node variables become
    column groups ``__<var>__<col>``."""

    def __init__(self, nodes: DataFrame, edges: DataFrame):
        self.nodes = nodes
        self.edges = edges
        self.node_cols = nodes.columns
        self._anon = itertools.count()

    def fresh(self) -> str:
        return f"_a{next(self._anon)}"

    def node_frame(self, pat: NodePat, var: str) -> DataFrame:
        df = self.nodes
        if pat.label is not None:
            df = df.filter(F.col("label") == pat.label)
        for k, v in pat.props.items():
            if k not in self.node_cols:
                raise CypherCompileError(f"unknown node property {k!r}")
            df = df.filter(F.col(k) == F.lit(v))
        return df.select(*[F.col(c).alias(_ncol(var, c)) for c in self.node_cols])

    def edge_frame(self, rel: RelPat) -> DataFrame:
        e = gq._adjacency(self.edges, rel.rtype and [rel.rtype], rel.direction,
                          "type")
        if rel.var is None:
            return e.drop("type")
        return e.withColumnRenamed("type", _ncol(rel.var, "type"))

    def varlen_frame(self, rel: RelPat, seeds: DataFrame,
                     shortest: bool) -> DataFrame:
        """(_from, _to) for ``*m..n``: one row per node-distinct path of
        length m..n (path mode). For shortestPath, (_from, _to, _len):
        one row per reachable pair at its minimum hop count (distance
        mode; the shortest path is always simple, so this equals the min
        over node-distinct paths).

        ``seeds`` (_from, _to) are the source ids bound so far: each level
        the kernel materializes is a barrier Catalyst cannot push the
        downstream anchor join through, so an unseeded anchored pattern
        would expand from every node and discard almost all of it."""
        # fail loudly instead of clamping silently: *6..8 used to return
        # an empty frame (min above the cap yields no levels) and *2..10
        # silently dropped paths of length 6-10
        if rel.max_hops > gq.MAX_VARLEN_HOPS:
            raise CypherCompileError(
                f"variable-length pattern *{rel.min_hops}..{rel.max_hops} "
                f"exceeds MAX_VARLEN_HOPS={gq.MAX_VARLEN_HOPS} (the reference's "
                "own traversal clamp, query-optimization.ts:412-422); "
                "rewrite the query with a bounded hop range")
        levels = gq._levels(self.edge_frame(RelPat(rel.rtype, rel.direction)),
                            seeds, rel.max_hops, paths=not shortest)
        if shortest:
            return gq._union(levels[1:]).select(
                "_from", "_to", F.col("_hops").alias("_len"))
        return gq._union(levels[rel.min_hops:]).select("_from", "_to")

    def build(self, pattern: Pattern, bound: DataFrame | None) -> DataFrame:
        """Compile one pattern, joining against already-bound vars."""
        elems = pattern.elements
        seen: set[str] = set()
        if bound is not None:
            seen = {c.split("__")[1] for c in bound.columns
                    if c.startswith("__")}

        # first node
        first = elems[0]
        var0 = first.var or self.fresh()
        if var0 in seen:
            cur = bound
            # apply label/prop constraints of the repeated mention
            if first.label is not None:
                cur = cur.filter(F.col(_ncol(var0, "label")) == first.label)
            for k, v in first.props.items():
                cur = cur.filter(F.col(_ncol(var0, k)) == F.lit(v))
        else:
            nf = self.node_frame(first, var0)
            cur = nf if bound is None else bound.crossJoin(nf)
        prev = var0

        for i in range(1, len(elems), 2):
            rel: RelPat = elems[i]
            node: NodePat = elems[i + 1]
            if rel.min_hops is not None:
                ids = F.col(_ncol(prev, "id"))
                pairs = self.varlen_frame(
                    rel, cur.select(ids.alias("_from"), ids.alias("_to")),
                    pattern.shortest)
            else:
                pairs = self.edge_frame(rel)
            cur = cur.join(pairs, cur[_ncol(prev, "id")] == pairs["_from"]) \
                     .drop("_from")
            var = node.var or self.fresh()
            have = {c.split("__")[1] for c in cur.columns if c.startswith("__")}
            if var in have:
                cur = cur.filter(F.col("_to") == F.col(_ncol(var, "id"))) \
                         .drop("_to")
                if node.label is not None:
                    cur = cur.filter(F.col(_ncol(var, "label")) == node.label)
                for k, v in node.props.items():
                    cur = cur.filter(F.col(_ncol(var, k)) == F.lit(v))
            else:
                nf = self.node_frame(node, var)
                cur = cur.join(nf, cur["_to"] == nf[_ncol(var, "id")]) \
                         .drop("_to")
            prev = var
        if pattern.shortest:
            if pattern.path_var:
                cur = cur.withColumnRenamed(
                    "_len", _ncol(pattern.path_var, "len"))
            else:
                cur = cur.drop("_len")
        return cur


def _compile_value(expr, df_cols: list[str]) -> Column:
    if isinstance(expr, Lit):
        return F.lit(expr.value)
    if isinstance(expr, Prop):
        c = _ncol(expr.var, expr.key)
        if c not in df_cols:
            raise CypherCompileError(
                f"unknown reference {expr.var}.{expr.key}")
        return F.col(c)
    if isinstance(expr, VarRef):
        c = _ncol(expr.var, "id")
        if c in df_cols:
            return F.col(c)
        # scalar introduced by a WITH alias (e.g. WITH count(*) AS c)
        if expr.var in df_cols:
            return F.col(expr.var)
        raise CypherCompileError(f"unbound variable {expr.var!r}")
    if isinstance(expr, PathLen):
        c = _ncol(expr.var, "len")
        if c not in df_cols:
            raise CypherCompileError(
                f"length({expr.var}): {expr.var!r} is not a bound "
                "shortestPath path variable")
        return F.col(c)
    raise CypherCompileError(f"cannot compile value {expr!r}")


def _compile_pred(expr, df_cols: list[str]) -> Column:
    if isinstance(expr, BoolOp):
        cols = [_compile_pred(o, df_cols) for o in expr.operands]
        out = cols[0]
        for c in cols[1:]:
            out = (out & c) if expr.op == "and" else (out | c)
        return out
    if isinstance(expr, Not):
        return ~_compile_pred(expr.operand, df_cols)
    if isinstance(expr, Cmp):
        l = _compile_value(expr.left, df_cols)
        r = _compile_value(expr.right, df_cols)
        return {"=": l == r, "<>": l != r, "<": l < r,
                "<=": l <= r, ">": l > r, ">=": l >= r}[expr.op]
    if isinstance(expr, StrPred):
        l = _compile_value(expr.left, df_cols)
        r = _compile_value(expr.right, df_cols)
        if expr.op == "contains":
            return l.contains(r)
        if expr.op == "starts":
            return l.startswith(r)
        return l.endswith(r)
    if isinstance(expr, IsNull):
        c = _compile_value(expr.expr, df_cols)
        return c.isNotNull() if expr.negated else c.isNull()
    if isinstance(expr, InList):
        c = _compile_value(expr.left, df_cols).isin(expr.values)
        return ~c if expr.negated else c
    if isinstance(expr, ExistsPat):
        raise CypherCompileError(
            "EXISTS(...) is only supported as a top-level WHERE conjunct "
            "(not nested under OR/NOT-of-AND)")
    raise CypherCompileError(f"cannot compile predicate {expr!r}")


def _split_conjuncts(expr) -> list:
    if isinstance(expr, BoolOp) and expr.op == "and":
        out = []
        for o in expr.operands:
            out.extend(_split_conjuncts(o))
        return out
    return [expr]


def _item_name(item: ReturnItem) -> str:
    if item.alias:
        return item.alias
    e = item.expr
    if item.agg:
        inner = "*" if isinstance(e, Lit) else _plain_name(e)
        d = "DISTINCT " if item.agg_distinct else ""
        return f"{item.agg}({d}{inner})"
    return _plain_name(e)


def _plain_name(e) -> str:
    if isinstance(e, Prop):
        return f"{e.var}.{e.key}"
    if isinstance(e, VarRef):
        return e.var
    if isinstance(e, PathLen):
        return f"length({e.var})"
    if isinstance(e, Lit):
        return str(e.value)
    return "expr"


def _apply_where(b: _PatternBuilder, cur: DataFrame, where) -> DataFrame:
    """EXISTS conjuncts become semi/anti joins, the rest one filter."""
    plain = []
    for conj in _split_conjuncts(where):
        if isinstance(conj, ExistsPat):
            anchor_vars = [e.var for e in conj.pattern.elements[::2]
                           if isinstance(e, NodePat) and e.var]
            have = {c.split("__")[1] for c in cur.columns
                    if c.startswith("__")}
            anchors = [v for v in anchor_vars if v in have]
            if not anchors:
                raise CypherCompileError(
                    "EXISTS pattern must share at least one variable "
                    "with the outer MATCH")
            sub = b.build(conj.pattern, None)
            keys = [_ncol(v, "id") for v in anchors]
            sub_keys = sub.select(*keys).dropDuplicates(keys)
            how = "left_anti" if conj.negated else "left_semi"
            cur = cur.join(sub_keys, on=keys, how=how)
        else:
            plain.append(conj)
    if plain:
        pred = plain[0] if len(plain) == 1 else BoolOp("and", plain)
        cur = cur.filter(_compile_pred(pred, cur.columns))
    return cur


def _optional_match(b: _PatternBuilder, cur: DataFrame,
                    cl: MatchClause) -> DataFrame:
    """OPTIONAL MATCH = left outer join on the shared variables' ids.
    The clause's WHERE is Cypher-scoped to the optional pattern (part of
    the join condition, not a post-filter), so it is applied to the
    optional side BEFORE the join — unmatched rows keep their NULLs."""
    if cur is None:
        raise CypherCompileError("OPTIONAL MATCH cannot be the first clause")
    sub: DataFrame | None = None
    for pat in cl.patterns:
        sub = b.build(pat, sub)
    if cl.where is not None:
        sub = sub.filter(_compile_pred(cl.where, sub.columns))
    outer = {c.split("__")[1] for c in cur.columns if c.startswith("__")}
    inner = {c.split("__")[1] for c in sub.columns if c.startswith("__")}
    shared = sorted(outer & inner)
    if not shared:
        raise CypherCompileError(
            "OPTIONAL MATCH must share at least one variable with the "
            "preceding clauses")
    keys = [_ncol(v, "id") for v in shared]
    dup = [c for c in sub.columns
           if c.startswith("__") and c.split("__")[1] in shared
           and c not in keys]
    return cur.join(sub.drop(*dup), on=keys, how="left")


def _project(cur: DataFrame, items: list[ReturnItem], node_cols: list[str],
             distinct: bool, with_mode: bool) -> DataFrame:
    """Shared RETURN / WITH projection with Cypher's implicit grouping.

    In with_mode a bare node variable passes ALL its ``__var__col``
    columns through under their internal names (optionally renamed by
    AS), keeping the variable usable by later clauses; every non-
    variable item must be aliased (standard Cypher rule) and lands as a
    plain scalar column resolvable as a bare name downstream."""
    has_agg = any(it.agg for it in items)

    def expand(item: ReturnItem) -> list[tuple[Column, str]]:
        """-> [(column, output_name)]"""
        name = _item_name(item)
        if item.agg:
            e = item.expr
            src = (F.lit(1) if isinstance(e, Lit) and item.agg == "count"
                   else _compile_value(e, cur.columns))
            if item.agg == "count":
                col = (F.countDistinct(src) if item.agg_distinct
                       else F.count(src))
            elif item.agg == "collect":
                col = F.sort_array(
                    F.collect_set(src) if item.agg_distinct
                    else F.collect_list(src))
            elif item.agg == "sum" and item.agg_distinct:
                col = F.sum_distinct(src)
            else:
                if item.agg_distinct and item.agg == "avg":
                    raise CypherCompileError("AVG(DISTINCT) is not supported")
                fn = {"sum": F.sum, "avg": F.avg,
                      "min": F.min, "max": F.max}[item.agg]
                col = fn(src)
            if with_mode and item.alias is None:
                raise CypherCompileError(
                    f"WITH item {name!r} must be aliased (AS ...)")
            return [(col, name)]
        if isinstance(item.expr, VarRef):
            v = item.expr.var
            if _ncol(v, "id") not in cur.columns and v in cur.columns:
                # scalar from an earlier WITH
                return [(F.col(v), item.alias or v)]
            base = item.alias or v
            out = []
            for c in node_cols:
                nc = _ncol(v, c)
                if nc in cur.columns:
                    out.append((F.col(nc),
                                _ncol(base, c) if with_mode else f"{base}_{c}"))
            if not out:
                raise CypherCompileError(f"unbound variable {v!r}")
            return out
        if with_mode and item.alias is None:
            raise CypherCompileError(
                f"WITH item {name!r} must be aliased (AS ...)")
        return [(_compile_value(item.expr, cur.columns), name)]

    agg_items = [it for it in items if it.agg]
    key_items = [it for it in items if not it.agg]
    if has_agg:
        key_cols = []
        for it in key_items:
            key_cols.extend(expand(it))
        agg_cols = []
        for it in agg_items:
            agg_cols.extend(expand(it))
        keyed = [c.alias(n) for c, n in key_cols]
        aggs = [c.alias(n) for c, n in agg_cols]
        if keyed:
            out = cur.groupBy(*keyed).agg(*aggs)
        else:
            out = cur.agg(*aggs)
        if not with_mode:
            # restore RETURN item order
            order = [_item_name(it) for it in items]
            out = out.select(*[F.col(f"`{n}`") for n in order])
    else:
        cols = []
        for it in items:
            cols.extend(expand(it))
        out = cur.select(*[c.alias(n) for c, n in cols])
        if distinct:
            out = out.dropDuplicates()
    return out


def compile_query(q: Query, nodes: DataFrame, edges: DataFrame) -> DataFrame:
    b = _PatternBuilder(nodes, edges)
    cur: DataFrame | None = None
    for cl in q.clauses:
        if isinstance(cl, MatchClause):
            if cl.optional:
                cur = _optional_match(b, cur, cl)
            else:
                for pat in cl.patterns:
                    cur = b.build(pat, cur)
                if cl.where is not None:
                    cur = _apply_where(b, cur, cl.where)
        elif isinstance(cl, WithClause):
            if cur is None:
                raise CypherCompileError("WITH cannot be the first clause")
            cur = _project(cur, cl.items, nodes.columns,
                           distinct=cl.distinct, with_mode=True)
            if cl.where is not None:
                cur = _apply_where(b, cur, cl.where)
        elif isinstance(cl, UnwindClause):
            gen = F.explode(
                F.array(*[F.lit(v) for v in cl.values])).alias(cl.alias)
            if cur is None:
                cur = nodes.sparkSession.range(1).select(gen)
            else:
                cur = cur.select("*", gen)
        else:  # pragma: no cover
            raise CypherCompileError(f"unknown clause {cl!r}")

    out = _project(cur, q.items, nodes.columns,
                   distinct=q.distinct, with_mode=False)

    # ORDER BY resolves against output columns first, else raw refs
    if q.order_by:
        sort_cols = []
        for oi in q.order_by:
            name = _plain_name(oi.expr) if not isinstance(oi.expr, str) else oi.expr
            if name in out.columns:
                c = F.col(f"`{name}`")
            elif isinstance(oi.expr, (Prop, VarRef)):
                # alias written without AS: try matching an output name
                raise CypherCompileError(
                    f"ORDER BY {name} does not name an output column; "
                    "alias the RETURN item and order by the alias")
            else:
                raise CypherCompileError(f"cannot order by {oi.expr!r}")
            sort_cols.append(c.asc() if oi.asc else c.desc())
        out = out.orderBy(*sort_cols)
    if q.skip:
        out = out.offset(q.skip)
    if q.limit is not None:
        out = out.limit(q.limit)
    return out


AUTO_LIMIT = 1000


def cypher_query(nodes: DataFrame, edges: DataFrame, text: str,
                 auto_limit: int | None = AUTO_LIMIT) -> DataFrame:
    """Parse + compile a Cypher query against the graph tables.

    ``auto_limit`` mirrors the reference's unbounded-query rewrite
    (query-optimization.ts:412-422): a query with no LIMIT gets one
    appended. Pass None to disable (tests / composed plans).
    """
    q = parse(text)
    if q.limit is None and auto_limit is not None:
        q.limit = auto_limit
    return compile_query(q, nodes, edges)
