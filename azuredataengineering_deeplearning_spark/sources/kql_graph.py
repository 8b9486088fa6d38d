"""Kusto graph operators (``make-graph`` / ``graph-match``) compiled
to relational joins.

The reference's KQL surface (``daily_eval.py``, ``kusto_query.py``)
predates Kusto's graph semantics, but graph-match is now core KQL; a
user of the reference's Kusto-shaped pipelines can point the same
query text here. Dialect subset (documented):

* ``make-graph Src --> Dst [with NodesTable on IdCol]`` — binds the
  in-flight frame as the EDGE table (directed ``Src -> Dst``) and an
  optional node-property table from the session table map.
* ``graph-match (a)-[e]->(b)[, (b)-[f]->(c), ...] where <pred>
  project <cols>`` — chains may share node variables (paths, stars,
  triangles/cycles all work — a repeated variable becomes an equality
  constraint). ``<-`` reverses a hop; ``-->`` / ``--`` (anonymous /
  any-direction edges) are supported. Variable-length hops
  ``-[e*1..3]->`` expand to a UNION of fixed-length branches (bounded
  at 8 — still one static plan); the edge variable binds an array of
  structs, queried with ``array_length(e)`` / ``map(e, col)`` /
  ``all(e, pred)`` / ``any(e, pred)`` (-> transform/forall/exists).

Compilation — pure joins, no iteration, no UDFs: every hop is one
inner join of the (column-prefixed) edge table against the frame
built so far, keyed on the already-bound endpoint(s); Catalyst plans
the join order and AQE picks broadcast vs shuffle per side. Node
variables always expose the pseudo property ``id`` (the endpoint
value); a nodes table adds its columns via a LEFT join per node
variable (property decoration — a node missing from the table still
matches the structure, Kusto semantics). ``var.col`` references in
``where``/``project`` rewrite textually to the prefixed columns and
then ride the standard KQL scalar translation.

At 100 TB: each hop is an equi-join on an edge endpoint — the same
shuffle/broadcast economics as any dimensional join; a hot node
(celebrity vertex) makes a hot join key, remedied by AQE skew-join
like any other join (no window funnels, no per-path state). Pattern
length is fixed at compile time, so the plan is a static join tree —
never a driver loop.
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_HOP = re.compile(
    r"\(\s*(\w*)\s*\)\s*"              # tail node var (may be anonymous)
    # <-[e]- / -[e]-> / --> / <-- / -- , optionally -[e*1..3]->
    r"(<?)-(?:\[\s*(\w*)\s*(?:\*\s*(\d+)\s*\.\.\s*(\d+)\s*)?\])?-(>?)"
    r"\s*(?=\()"
)


def parse_pattern(text: str) -> tuple[list[tuple[str, str, str, str]], list[str]]:
    """Parse ``(a)-[e]->(b)-[f]->(c), (c)-[g]->(a)`` into hops.

    Returns (hops, node_order): each hop is ``(src_var, edge_var,
    dst_var, direction)`` normalized so src/dst follow the EDGE
    direction ('any' keeps the written order and matches either way);
    node_order preserves first-appearance order for deterministic
    anonymous naming."""
    hops: list[tuple[str, str, str, str]] = []
    node_order: list[str] = []
    varlen: dict[str, tuple[int, int]] = {}
    anon = [0]

    def _name(v: str, kind: str) -> str:
        if v:
            return v
        anon[0] += 1
        return f"__{kind}{anon[0]}"

    for chain in _split_top_commas(text):
        chain = chain.strip()
        pos = 0
        prev: str | None = None
        while pos < len(chain):
            m = _HOP.match(chain, pos)
            if m:
                tail, left, evar, lo, hi, right = (
                    m.group(1), m.group(2), m.group(3) or "",
                    m.group(4), m.group(5), m.group(6),
                )
                # tail re-reads the previous hop's head node (the hop
                # regex only LOOKS AHEAD at its head), so a continuing
                # chain agrees with `prev` by construction — except an
                # ANONYMOUS middle node, which must reuse the name the
                # lookahead minted rather than minting a second one
                tail = prev if (not tail and prev is not None) else _name(
                    tail, "n"
                )
                ev = _name(evar, "e")
                nm = re.match(r"\(\s*(\w*)\s*\)", chain[m.end():])
                if not nm:
                    raise ValueError(
                        f"graph-match: dangling edge after {m.group(0)!r}"
                    )
                head = _name(nm.group(1), "n")
                if left and right:
                    raise ValueError(
                        f"graph-match: edge {ev!r} is both <- and ->"
                    )
                if lo is not None:
                    lo_i, hi_i = int(lo), int(hi)
                    if lo_i < 1 or hi_i < lo_i:
                        raise ValueError(
                            f"graph-match: bad path bounds *{lo}..{hi} "
                            f"on {ev!r} (need 1 <= min <= max)"
                        )
                    if hi_i - lo_i > 7:
                        raise ValueError(
                            f"graph-match: *{lo}..{hi} expands to "
                            f"{hi_i - lo_i + 1} branches (max 8)"
                        )
                    if not (left or right):
                        raise ValueError(
                            "graph-match: variable-length edges need a "
                            f"direction (-[{ev}*{lo}..{hi}]-> or <-...-)"
                        )
                    varlen[ev] = (lo_i, hi_i)
                if left:
                    hops.append((head, ev, tail, "fwd"))
                elif right:
                    hops.append((tail, ev, head, "fwd"))
                else:
                    hops.append((tail, ev, head, "any"))
                for v in (tail, head):
                    if v not in node_order:
                        node_order.append(v)
                prev = head
                pos = m.end()
            else:
                nm = re.match(r"\(\s*(\w*)\s*\)\s*$", chain[pos:])
                if nm and prev is not None:
                    # trailing head node: already recorded by the
                    # previous hop's lookahead
                    break
                raise ValueError(
                    f"graph-match: unparseable pattern at {chain[pos:]!r}"
                )
    if not hops:
        raise ValueError(f"graph-match: empty pattern {text!r}")
    seen = set()
    for _, ev, _, _ in hops:
        if ev in seen:
            raise ValueError(
                f"graph-match: edge variable {ev!r} used twice"
            )
        seen.add(ev)
    return hops, node_order, varlen


def _split_top_commas(text: str) -> list[str]:
    out, depth, cur = [], 0, []
    for ch in text:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def rewrite_dots(txt: str, variables: list[str]) -> str:
    """``a.name`` -> ``a_name`` for the pattern's variables (the
    prefixed physical columns)."""
    if not variables:
        return txt
    pat = r"\b(" + "|".join(re.escape(v) for v in variables) + r")\.(\w+)"
    return re.sub(pat, r"\1_\2", txt)


def _expand_varlen(
    hops: list, varlen: dict
) -> list[tuple[list, dict[str, list[str]]]]:
    """Expand variable-length hops into concrete branches — one branch
    per combination of lengths. Returns [(concrete_hops, arrays)] where
    ``arrays`` maps each var-length edge name to its branch's per-hop
    edge names (for the array-of-structs binding)."""
    from itertools import product

    ve = [(ev, rng) for ev, rng in varlen.items()]
    branches = []
    for lengths in product(*[range(lo, hi + 1) for _, (lo, hi) in ve]):
        ln = dict(zip([ev for ev, _ in ve], lengths))
        concrete: list = []
        arrays: dict[str, list[str]] = {}
        k = [0]
        for u, ev, v, direction in hops:
            if ev not in ln:
                concrete.append((u, ev, v, direction))
                continue
            parts, prev = [], u
            for i in range(ln[ev]):
                k[0] += 1
                he = f"__ve{k[0]}"
                head = v if i == ln[ev] - 1 else f"__vn{k[0]}"
                parts.append((prev, he, head, direction))
                prev = head
            concrete.extend(parts)
            arrays[ev] = [p[1] for p in parts]
        branches.append((concrete, arrays))
    return branches


def graph_match(
    edges: DataFrame,
    src: str,
    dst: str,
    nodes: DataFrame | None,
    node_id: str,
    pattern: str,
    where_txt: str | None,
    project_txt: str,
    expr_fn,
) -> DataFrame:
    """Compile one graph-match over the bound graph. ``expr_fn`` is
    the KQL scalar translator (injected to avoid a circular import).

    Variable-length hops (``-[e*1..3]->``) expand to a UNION of
    fixed-length branches — still a static plan (at most 8 branches,
    each a join tree); the edge variable binds an ARRAY OF STRUCTS of
    the branch's hops, so ``array_length(e)``, ``map(e, col)``,
    ``all(e, pred)`` / ``any(e, pred)`` work uniformly across branches
    (the path functions rewrite to transform/forall/exists with bare
    edge-column names bound to the lambda element)."""
    hops, node_order, varlen = parse_pattern(pattern)
    branches = (
        _expand_varlen(hops, varlen) if varlen else [(hops, {})]
    )
    variables = [v for v in node_order if not v.startswith("__")] + [
        ev for _, ev, _, _ in hops if not ev.startswith("__")
    ]
    results = []
    for concrete, arrays in branches:
        frame = _build_branch(
            edges, src, dst, nodes, node_id, concrete, node_order,
            arrays,
        )
        results.append(
            _finish(
                frame, variables, list(varlen), edges.columns,
                where_txt, project_txt, expr_fn,
            )
        )
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


def _build_branch(
    edges: DataFrame,
    src: str,
    dst: str,
    nodes: DataFrame | None,
    node_id: str,
    hops: list,
    node_order: list[str],
    arrays: dict[str, list[str]],
) -> DataFrame:
    bound: dict[str, str] = {}  # node var -> physical id column
    cur: DataFrame | None = None
    for u, ev, v, direction in hops:
        if direction == "any":
            # undirected hop: the edge matches in either orientation —
            # one union of the two oriented projections
            others = [c for c in edges.columns if c not in (src, dst)]
            fwd = edges.select(
                F.col(src).alias("__s"), F.col(dst).alias("__d"), *others
            )
            rev = edges.select(
                F.col(dst).alias("__s"), F.col(src).alias("__d"), *others
            )
            e = fwd.unionByName(rev)
            e = e.select(
                [F.col(c).alias(f"{ev}_{c}") for c in e.columns]
            )
            esrc, edst = f"{ev}___s", f"{ev}___d"
        else:
            e = edges.select(
                [F.col(c).alias(f"{ev}_{c}") for c in edges.columns]
            )
            esrc, edst = f"{ev}_{src}", f"{ev}_{dst}"
        conds = []
        if u in bound:
            conds.append(F.col(esrc) == F.col(bound[u]))
        if v in bound:
            conds.append(F.col(edst) == F.col(bound[v]))
        if u == v:
            conds.append(F.col(esrc) == F.col(edst))
        if cur is None:
            cur = e
            if conds:
                cur = cur.filter(reduce(lambda a, b: a & b, conds))
        else:
            if not conds:
                raise ValueError(
                    f"graph-match: hop ({u})-[{ev}]->({v}) shares no "
                    "variable with the pattern so far (disconnected "
                    "patterns are cartesian — bind a common node first)"
                )
            cur = cur.join(e, reduce(lambda a, b: a & b, conds), "inner")
        if u not in bound:
            bound[u] = esrc
        if v not in bound:
            bound[v] = edst
    # expose var.id for every NAMED node var
    for var in node_order:
        cur = cur.withColumn(f"{var}_id", F.col(bound[var]))
    # variable-length edge vars bind an array of structs over their
    # branch's concrete hops (uniform schema across branches)
    for ev, hop_evs in arrays.items():
        cur = cur.withColumn(
            ev,
            F.array(
                *[
                    F.struct(
                        *[
                            F.col(f"{he}_{c}").alias(c)
                            for c in edges.columns
                        ]
                    )
                    for he in hop_evs
                ]
            ),
        )
    # node-property decoration (LEFT join per referenced variable)
    if nodes is not None:
        for var in node_order:
            if var.startswith("__"):
                continue
            nd = nodes.select(
                F.col(node_id).alias(f"__j_{var}"),
                *[
                    F.col(c).alias(f"{var}_{c}")
                    for c in nodes.columns
                    if c != node_id
                ],
            )
            cur = cur.join(
                nd, F.col(f"{var}_id") == F.col(f"__j_{var}"), "left"
            ).drop(f"__j_{var}")
    return cur


def _rewrite_path_fns(txt: str, path_vars: list[str], edge_cols: list[str]):
    """``map(e, expr)`` / ``all(e, pred)`` / ``any(e, pred)`` over a
    variable-length edge -> transform/forall/exists with bare edge
    column names bound to the lambda element."""
    if not path_vars:
        return txt
    from azuredataengineering_deeplearning_spark.sources.kql import (
        _scan_calls,
    )

    colpat = r"\b(" + "|".join(re.escape(c) for c in edge_cols) + r")\b"

    def _hof(name, hof):
        def build(a, b=None):
            if b is None:
                return f"{name}({a})"
            if a not in path_vars:
                return f"{name}({a}, {b})"
            body = re.sub(colpat, r"__x.\1", b)
            return f"{hof}({a}, __x -> {body})"

        return build

    return _scan_calls(txt, {
        "map": _hof("map", "transform"),
        "all": _hof("all", "forall"),
        "any": _hof("any", "exists"),
    })


def _finish(
    cur: DataFrame,
    variables: list[str],
    path_vars: list[str],
    edge_cols: list[str],
    where_txt: str | None,
    project_txt: str,
    expr_fn,
) -> DataFrame:
    def _tx(txt: str) -> str:
        return expr_fn(
            rewrite_dots(_rewrite_path_fns(txt, path_vars, edge_cols),
                         variables)
        )

    if where_txt:
        cur = cur.filter(F.expr(_tx(where_txt)))
    outs = []
    for item in _split_top_commas(project_txt):
        item = item.strip()
        m = re.match(r"^(\w+)\s*=\s*(.+)$", item, re.S)
        if m:
            alias, body = m.group(1), m.group(2)
        else:
            dm = re.match(r"^(\w+)\.(\w+)$", item)
            if not dm:
                raise ValueError(
                    "graph-match project items must be 'alias = expr' "
                    f"or 'var.col': {item!r}"
                )
            alias, body = f"{dm.group(1)}_{dm.group(2)}", item
        outs.append(F.expr(_tx(body)).alias(alias))
    return cur.select(*outs)


def graph_shortest_paths(
    edges: DataFrame,
    src: str,
    dst: str,
    nodes: DataFrame | None,
    node_id: str,
    output: str,
    pattern: str,
    where_txt: str | None,
    project_txt: str,
    expr_fn,
) -> DataFrame:
    """Kusto ``graph-shortest-paths`` (round 11): shortest hop-count
    paths between endpoint pairs.

    Dialect subset: ONE chain with ONE variable-length edge
    ``(a)-[e*lo..hi]->(b)`` (hi bounded at lo+7 like graph-match —
    shortest-path search is bounded-radius by construction, which is
    also how Kusto's own operator behaves with its required ``*lo..hi``
    bounds). ``where`` constrains the candidate paths BEFORE the
    shortest selection, exactly like Kusto. ``output=any`` (default)
    emits ONE deterministic shortest path per (start, end) pair —
    row_number over (hops, projected columns), so reproducible and
    oracle-checkable where Kusto's pick is arbitrary; ``output=all``
    emits every path tied at the minimum hop count.

    Plan shape: the bounded branch UNION from graph_match (one static
    join tree per length), then one window over (start id, end id) —
    min-hop selection adds a single hash exchange on the endpoint
    pair. No iteration, no driver loop; a celebrity vertex is an AQE
    skew-join key like any other join."""
    hops, node_order, varlen = parse_pattern(pattern)
    if len(hops) != 1 or len(varlen) != 1 or hops[0][1] not in varlen:
        raise ValueError(
            "graph-shortest-paths needs a single-hop pattern with one "
            "variable-length edge: (a)-[e*1..5]->(b); use graph-match "
            "for fixed multi-hop patterns"
        )
    (a, ev, b, _direction) = hops[0]
    if a.startswith("__") or b.startswith("__"):
        raise ValueError(
            "graph-shortest-paths endpoints must be NAMED node "
            "variables (the result is per endpoint pair)"
        )
    if output not in ("any", "all"):
        raise ValueError(
            f"graph-shortest-paths: output= must be any|all, got "
            f"{output!r}"
        )
    aug = (
        f"__sp_s = {a}.id, __sp_d = {b}.id, "
        f"__sp_l = array_length({ev}), " + project_txt
    )
    full = graph_match(
        edges, src, dst, nodes, node_id, pattern, where_txt, aug,
        expr_fn,
    )
    user_cols = [
        c for c in full.columns if c not in ("__sp_s", "__sp_d", "__sp_l")
    ]
    from pyspark.sql import Window

    w = Window.partitionBy("__sp_s", "__sp_d")
    if output == "all":
        out = full.withColumn(
            "__sp_min", F.min("__sp_l").over(w)
        ).where(F.col("__sp_l") == F.col("__sp_min"))
        return out.select(*user_cols)
    rn = F.row_number().over(
        w.orderBy(F.col("__sp_l"), *[F.col(c) for c in user_cols])
    )
    return (
        full.withColumn("__sp_rn", rn)
        .where(F.col("__sp_rn") == 1)
        .select(*user_cols)
    )
