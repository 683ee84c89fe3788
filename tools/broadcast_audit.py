#!/usr/bin/env python
"""Broadcast-bound audit: every ``F.broadcast(`` site in the source,
classified with its SIZE BOUND — making "broadcast-sized" a CHECKED
claim repo-wide (VERDICT r10 item 1).

Emits a markdown table (grouped by bound class) for PARITY.md; exits
non-zero if any site is UNCLASSIFIED, so adding a new broadcast without
stating its bound fails the suite
(tests/test_broadcast_audit.py::test_every_broadcast_site_classified).

Classes:
- resolver      the F.broadcast INSIDE a row-bounded regime switch —
                capped by construction: session.dim_side and
                rollup._dim_side under the one DIM_BROADCAST_ROW_CAP
                (a noted row bound or a bounded probe, both through
                session.probe_small), graph/analytic _node_side and
                the triangle edge-cap under their own caps
- constant      fixed-cardinality inputs (nation=25, region=5, their
                joins, literal grids/planes/probes/buckets)
- single-row    global scalar aggregates (thresholds, totals, N)
- fixed-k       top-k / k-means / codebook / query-set tables whose row
                count is a module constant (k, N_QUERIES, NPROBE, lags)
- bounded-enum  grouped by a low-cardinality column of the schema
                (event_type, source, l_returnflag, cohort weeks, dims)
- calendar      one row per time bucket of the data's span
- witness-only  small-sf cross-check paths never run at scale (test
                oracles for the capped production twin)
- caller-bound  documented caller contract (streaming enrich dim)

Sites that are NONE of these must route through session.dim_side /
rollup._resolve_broadcast or drop the hint for AQE — see PARITY.md
round 11.
"""

from __future__ import annotations

import ast
import os
import re
import sys

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
PKG = os.path.join(ROOT, "ibis_olap_aggregation_spark")

# Bound EVIDENCE a fixed-k operand's assignment lineage must carry
# (VERDICT r12 item: certify by the operand's definition, never by its
# variable NAME — a name rule would certify any future F.broadcast(q)
# whose plan lost its bound). Each alternative is an explicit smallness
# witness in source form:
#   - a comparison filter against the module constants (vec_id <
#     N_QUERIES, rk <= NPROBE)
#   - .limit(k)
#   - a single-row aggregate: df.agg(F.min/max/...) whose RECEIVER is
#     certified group-free by AST lineage (_single_row_agg below) — a
#     regex witness here would also match grouped.agg(F.sum(...)) when
#     the groupBy sat on a prior assignment line (ADVICE r13)
#   - the codebook grain groupBy("m", "cj") (M_SUBSPACES x 2^PQ_BITS)
#   - the bounded helpers _ivf_centroids / centroid_arrays / topk(k),
#     and the dimension-grain helpers _cov_moments (dims^2 rows) /
#     _matvec (one row per dimension)
#   - the diagonal filter i == j (one row per embedding dimension)
#   - an ARGLESS groupBy().agg(...) — a global aggregate is exactly one
#     row by construction (the collected-codebook/LUT single-row shape)
FIXEDK_EVIDENCE = re.compile(
    r"<\s*N_QUERIES"
    r"|<=\s*NPROBE"
    r"|\.limit\(\s*\d"
    r'|groupBy\(\s*"m",\s*"cj"\s*\)'
    r"|\.groupBy\(\s*\)\.agg\("
    r"|_ivf_centroids\("
    r"|centroid_arrays\("
    r"|_cov_moments\("
    r"|_matvec\("
    r"|\btopk\(\s*\d"
    r"|\.limit\(\s*_CMS_TOPK\b"
    r'|F\.col\("i"\)\s*==\s*F\.col\("j"\)'
)

# Ordered (file_regex, line_regex, class, bound[, verify_operand]) —
# first match wins. verify_operand=True rules additionally require
# FIXEDK_EVIDENCE in the broadcast operand's assignment lineage
# (fixedk_operand_bounded); a matching site WITHOUT that evidence is
# reported UNCLASSIFIED and fails the audit.
RULES: list[tuple] = [
    # --- probe/regime resolvers: the only F.broadcast that may carry an
    # SF-linear side, because a bounded row-count probe guards it
    (r"session\.py$", r"return F\.broadcast\(df\)", "resolver",
     "≤ DIM_BROADCAST_ROW_CAP = 2M rows (a noted row bound or the bounded "
     "limit(cap).count() probe)"),
    (r"rollup\.py$", r"return F\.broadcast\(df\) if bcast", "resolver",
     "≤ DIM_BROADCAST_ROW_CAP = 2M rows (_resolve_broadcast: a noted row "
     "bound or the probe)"),
    (r"graph\.py$", r"return F\.broadcast\(df\) if small_nodes", "resolver",
     "≤ PAGERANK_BROADCAST_NODE_CAP = 5M nodes (probe rides n_nodes count)"),
    (r"graph\.py$", r"na, nb = F\.broadcast\(na\), F\.broadcast\(nb\)", "resolver",
     "≤ TRIANGLE_BROADCAST_EDGE_CAP = 5M edges (bounded count; else merge)"),
    (r"analytic\.py$", r"return F\.broadcast\(df\) if small_nodes", "resolver",
     "≤ PAGERANK_BROADCAST_NODE_CAP = 5M nodes (probe on cached support)"),
    # --- driver-assembled one-row frames (size gated before assembly)
    (r"hierarchy\.py$",
     r"crossJoin\(F\.broadcast\((?:self\._)?attr_row\)\)", "single-row",
     "1 row (compact local walk's attribute array: driver-built Arrow "
     "table of ≤ _LOCAL_WALK_LIMIT = 250k node structs — the walk "
     "itself is gated on that bound before assembly)"),
    # --- constant-cardinality dims and literal tables
    (r"tpch\.py$", r'F\.broadcast\(t\["nation"\]', "constant", "nation = 25 rows"),
    (r"tpch\.py$", r'F\.broadcast\(t\["region"\]', "constant", "region = 5 rows"),
    (r"relational\.py$", r"F\.broadcast\(t\[.nation.\]\)|F\.broadcast\(r\)|F\.broadcast\(n\d?\)",
     "constant", "nation/region(-derived) ≤ 25 rows"),
    (r"analytic\.py$", r"F\.broadcast\(n\)|F\.broadcast\(r\)", "constant",
     "nation/region ≤ 25 rows"),
    (r"analytic\.py$", r"F\.broadcast\(buckets\)", "constant",
     "literal histogram grid (value-domain/5 buckets, spark.range literal)"),
    (r"rp_lsh\.py$", r"F\.broadcast\(planes\)", "constant",
     "N_PLANES random hyperplanes (module constant)"),
    (r"dedup\.py$", r"F\.broadcast\(grid\)", "constant",
     "COSINE_BLOCKS² /2 literal block pairs (module constant)"),
    (r"layout\.py$", r"F\.broadcast\(probes\)", "constant",
     "fixed literal probe rectangles"),
    # --- single-row global scalars
    (r"tpch\.py$", r"F\.broadcast\(thresh\)", "single-row", "1 row (global SUM threshold)"),
    (r"relational\.py$", r"F\.broadcast\(avg_price\)|F\.broadcast\(mx\)|F\.broadcast\(avg_bal\)",
     "single-row", "1 row (global aggregate)"),
    (r"analytic\.py$", r"F\.broadcast\(n\)$|crossJoin\(F\.broadcast\(n\)\)", "single-row",
     "1 row (global order count)"),
    (r"timeseries\.py$", r"F\.broadcast\(tot\)", "single-row", "1 row (global moments)"),
    (r"text\.py$", r"F\.broadcast\(tot\)|F\.broadcast\(nd\)", "single-row",
     "1 row (corpus token total)"),
    (r"quality\.py$", r"F\.broadcast\(t\)|F\.broadcast\(dof\)|F\.broadcast\(point\)|F\.broadcast\(tot\)",
     "single-row", "1 row (global threshold/dof/point/total)"),
    (r"pipeline\.py$", r"F\.broadcast\(tot\)|F\.broadcast\(z\)|F\.broadcast\(ess\)",
     "single-row", "1 row (global total / normalizer / ESS)"),
    (r"pipeline\.py$", r"stages = F\.broadcast\(", "constant",
     "CURRICULUM_STAGES literal = 3 rows (module constant)"),
    (r"sketch_eval\.py$", r"F\.broadcast\(thresh\)", "single-row", "1 row (tolerance)"),
    (r"sketch_eval\.py$", r"crossJoin\(F\.broadcast\(tot\)\)", "single-row",
     "1 row (stream total summed off the 2048-row cached counter table)"),
    (r"sketch_eval\.py$", r"F\.broadcast\(probe_tbl\)", "fixed-k",
     "CMS heavy-hitter probes: _CMS_TOPK x d = 40 rows "
     "(limit(_CMS_TOPK) lineage x 4 hash rows)", True),
    # --- fixed-k tables (module-constant row counts). verify_operand:
    # the match alone never certifies — the operand's assignment
    # lineage must carry FIXEDK_EVIDENCE (an explicit bound filter /
    # limit / single-row agg / codebook grain), so renaming an
    # unbounded side to `q` cannot pass the audit
    (r"similarity\.py$", r'ex\.join\(F\.broadcast\(cent\), "dim"\)',
     "caller-bound",
     "_ivf_score_rank helper: cent is a PARAMETER (no in-function "
     "lineage) documented as _ivf_centroids output — K labels x "
     "EMB_DIM rows; retained decimal-exact witness, never registered"),
    (r"similarity\.py$",
     r"F\.broadcast\((?:q|qs|qe|qmin)\)|F\.broadcast\(eq\)|F\.broadcast\(probes\)",
     "fixed-k", "N_QUERIES (=10) x NPROBE rows (module constants)", True),
    (r"similarity\.py$", r"F\.broadcast\(cent\w*\)|F\.broadcast\(cb2?\)|F\.broadcast\(lut\)|F\.broadcast\(adc_top\)",
     "fixed-k", "K centroids / M x 2^b codebook / k x M LUT / top-k (module constants)", True),
    (r"similarity\.py$", r"F\.broadcast\(va\)|F\.broadcast\(vb\)", "fixed-k",
     "one row per embedding dimension (EMB_DIM, fixed)", True),
    (r"similarity\.py$", r"F\.broadcast\(gt\)", "fixed-k",
     "N_QUERIES x _MRL_K = 100 ground-truth rows (module constants)", True),
    (r"similarity\.py$", r"F\.broadcast\(x\d\)", "fixed-k",
     "one row per embedding dimension (power-iteration iterate; matvec "
     "output grain)", True),
    (r"similarity\.py$", r"F\.broadcast\(nrm\d\)", "single-row",
     "1 row (iterate norm scalar)"),
    (r"similarity\.py$", r"F\.broadcast\(_cb_row\(", "single-row",
     "1 row (fixed-k codebook collected into one sorted struct array — "
     "argless groupBy().agg in the helper's return)", True),
    (r"similarity\.py$", r"F\.broadcast\(lut_row\)", "single-row",
     "1 row (M x 2^b ADC LUT collected into one sorted struct array — "
     "argless groupBy().agg lineage)", True),
    (r"similarity\.py$", r"F\.broadcast\(qrow\)", "single-row",
     "1 row (fused query row: min/min_by GLOBAL aggregate over the "
     "group-free embeddings lineage carries qid + qv together)", True),
    (r"timeseries\.py$", r"F\.broadcast\(lags\)", "fixed-k", "MAX_LAG literal lag offsets"),
    (r"text\.py$", r"F\.broadcast\(vocab\.select|F\.broadcast\(va\)|F\.broadcast\(vb\)",
     "fixed-k", "PMI vocab capped at top-50 (module constant)"),
    (r"text\.py$", r"F\.broadcast\(profile", "fixed-k",
     "top-20 tokens per language (row_number ≤ 20 filter)"),
    # --- bounded-enum grouping columns
    (r"sketch_eval\.py$", r"F\.broadcast\(r\),|F\.broadcast\(long\)", "bounded-enum",
     "one row per event_type (x quantile probs) — low-cardinality enum"),
    (r"quality\.py$", r"F\.broadcast\(med\)|F\.broadcast\(mad\)|F\.broadcast\(u\)",
     "bounded-enum", "one row per event_type — low-cardinality enum"),
    (r"quality\.py$", r"cls\.join\(F\.broadcast\(gb\)\)", "bounded-enum",
     "one row per balance band — domain/width ≤ ~11 bands"),
    (r"quality\.py$", r'F\.broadcast\(cb\.select\("nat", "seg", "band", "kj"\)\)',
     "bounded-enum",
     "(nation x segment x band) aggregate ≤ 25 x 5 x ~11 rows"),
    (r"sketch_eval\.py$", r"F\.broadcast\(regs\)", "bounded-enum",
     "HLL registers: (|priorities|+1) x 256 rows — enum x fixed m"),
    (r"sketch_eval\.py$", r"F\.broadcast\(ex\)", "bounded-enum",
     "one exact-count row per priority + ALL — low-cardinality enum"),
    (r"analytic\.py$", r"F\.broadcast\(bounds\)", "bounded-enum",
     "one row per l_returnflag — 3 values"),
    (r"text\.py$", r"F\.broadcast\(totals\)", "bounded-enum",
     "one row per documents.source — low-cardinality enum"),
    (r"events\.py$", r"F\.broadcast\(base\)", "calendar",
     "one row per cohort week of the data span"),
    (r"events\.py$", r"F\.broadcast\(hz\)|F\.broadcast\(total\)", "single-row",
     "1 row (global max-ts horizon / cohort size scalar)"),
    (r"events\.py$", r"F\.broadcast\(grid\)", "calendar",
     "event_type x hour of the data span (gapfill grid)"),
    (r"hierarchy\.py$", r"F\.broadcast\(u\b", "caller-bound",
     "update_node_attributes: updates are change-sized (docstring "
     "contract — renames/relabels, never structural)"),
    (r"allocation\.py$", r"F\.broadcast\(reg\)", "constant",
     "one row per region = 5 rows"),
    (r"pipeline\.py$", r"F\.broadcast\(ev\)", "fixed-k",
     "distinct shingle keys of the BENCHMARK corpus — an external "
     "reference set, fixed-size by design (does not grow with the "
     "production corpus)"),
    # --- witness-only small-sf cross-check paths
    (r"dedup\.py$", r"F\.broadcast\(s[ab]\)", "witness-only",
     "_ngram_jaccard_allpairs: doc-sized, but the function is the small-sf "
     "test oracle for the prefix-filtered production twin (never registered)"),
    (r"relational\.py$", r"F\.broadcast\(bits\)", "fixed-k",
     "bloom bit-position set: DISTINCT positions hard-capped at "
     "BLOOM_M = 2^20 rows (module constant) regardless of build-side SF"),
    # --- documented caller contract
    (r"streaming/engine\.py$", r"F\.broadcast\(dim\)", "caller-bound",
     "enrich_with_static: caller contract (docstring) — dim must be "
     "broadcast-sized; probe-per-microbatch would block every trigger"),
]


def _enclosing_functions(tree: ast.Module, lineno: int) -> list[ast.AST]:
    """All function bodies containing ``lineno``, innermost first — a
    nested closure reads names assigned in any enclosing scope."""
    chain = [
        node
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.lineno <= lineno <= (node.end_lineno or node.lineno)
    ]
    return sorted(chain, key=lambda n: -n.lineno)


def fixedk_operand_bounded(path: str, lineno: int, line: str) -> bool:
    """Plan-lineage evidence check for a fixed-k broadcast site: every
    plain-name operand of ``F.broadcast(name)`` on the line must have an
    assignment (latest before the site, in the enclosing function) whose
    source — or that of its simple-name dependencies, transitively to
    depth 3 — matches FIXEDK_EVIDENCE. An operand with no reachable
    bounded definition (a parameter, a module global, an unbounded
    select) FAILS: the audit cannot certify what it cannot see."""
    names = re.findall(r"F\.broadcast\((\w+)\)", line)
    # call operands — F.broadcast(helper(arg)) — certify through the
    # HELPER's return expression instead of an assignment lineage
    call_ops = re.findall(r"F\.broadcast\((\w+)\(", line)
    if not names and not call_ops:
        return False  # opaque operand: nothing to trace, refuse
    src = open(path).read()
    try:
        tree = ast.parse(src)
    except SyntaxError:
        return False
    for fname in call_ops:
        # every return of the (possibly nested) helper must carry bound
        # evidence in source form; an unresolvable helper refuses
        fns = [
            n
            for n in ast.walk(tree)
            if isinstance(n, ast.FunctionDef) and n.name == fname
        ]
        if len(fns) != 1:
            return False
        rets = [
            ast.get_source_segment(src, r.value) or ""
            for r in ast.walk(fns[0])
            if isinstance(r, ast.Return) and r.value is not None
        ]
        if not rets or not all(FIXEDK_EVIDENCE.search(s) for s in rets):
            return False
    chain = _enclosing_functions(tree, lineno)
    if not chain:
        return False
    assigns: dict[str, list[tuple[int, ast.expr]]] = {}
    for fn in chain:
        for node in ast.walk(fn):
            if isinstance(node, ast.Assign):
                for tgt in node.targets:
                    if isinstance(tgt, ast.Name):
                        assigns.setdefault(tgt.id, []).append(
                            (node.lineno, node.value)
                        )
    for lst in assigns.values():
        lst.sort(key=lambda t: t[0])

    def latest(name: str, before: int) -> ast.expr | None:
        cands = [v for ln, v in assigns.get(name, []) if ln <= before]
        return cands[-1] if cands else None

    _GROUPING = {"groupBy", "groupby", "rollup", "cube"}
    _AGG_FNS = {"min", "max", "count", "sum"}

    def _receiver_root(expr: ast.expr) -> ast.expr:
        """The base object a method-chain receiver dispatches on:
        ``df.filter(x).select(y)`` -> ``df``; ``obj.grouped`` ->
        ``obj``; a bare name or a free-function call is its own
        root."""
        cur = expr
        while True:
            if isinstance(cur, ast.Call) and isinstance(
                cur.func, ast.Attribute
            ):
                cur = cur.func.value
            elif isinstance(cur, ast.Attribute):
                cur = cur.value
            else:
                return cur

    # Frame-returning callables a receiver root may resolve through:
    # query_cache is grouping-transparent (certify its argument);
    # load_table/load_tables are the canonical session loaders — pure
    # scans, never grouped. These are STABLE API names, not variable
    # names, so the name-rule ban (VERDICT r12) does not apply.
    _PASSTHROUGH_FNS = {"query_cache"}
    _SOURCE_FNS = {"load_table", "load_tables"}

    def _module_fn(name: str) -> ast.FunctionDef | None:
        for node in tree.body:
            if isinstance(node, ast.FunctionDef) and node.name == name:
                return node
        return None

    def _body_has_grouping(fn: ast.FunctionDef, depth: int) -> bool:
        """True if the helper's body (or, one level down, a same-module
        helper it calls) contains any grouping call."""
        for n in ast.walk(fn):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in _GROUPING
            ):
                return True
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Name)
                and depth > 0
            ):
                sub = _module_fn(n.func.id)
                if sub is not None and sub is not fn and _body_has_grouping(
                    sub, depth - 1
                ):
                    return True
        return False

    def receiver_groupfree(expr: ast.expr, before: int, depth: int) -> bool:
        """True iff ``expr`` — followed transitively through the latest
        simple-name assignments — contains NO grouping call, so an
        ``.agg`` on it is the 1-row global aggregate, never per-group.
        Every name that HAS a visible assignment is recursed into (a
        prior-line ``grouped = df.groupBy(k)`` is always caught), and
        the receiver's ROOT — the object the ``.agg`` method chain
        ultimately dispatches on — must RESOLVE to something certified
        group-free: a name with a visible group-free assignment, a
        ``query_cache(...)`` whose argument certifies, a canonical
        loader call, or a SAME-MODULE helper whose body (one callee
        level deep) contains no grouping call. Anything else REFUSES —
        a bare parameter/global name, an imported helper, an attribute
        root (``obj.grouped``) — the audit cannot certify what it
        cannot resolve (code-review r14: the previous
        accept-on-unresolvable default certified exactly the SF-linear
        grouped aggregates — ``_groups(e).agg(...)`` — that ADVICE r13
        told this check to catch)."""
        if depth <= 0:
            return False
        for n in ast.walk(expr):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in _GROUPING
            ):
                return False
        root = _receiver_root(expr)
        if isinstance(root, ast.Name):
            root_value = latest(root.id, before)
            if root_value is None:
                return False  # parameter or module global: unresolvable
            if not receiver_groupfree(root_value, root_value.lineno, depth - 1):
                return False
        elif isinstance(root, ast.Call) and isinstance(root.func, ast.Name):
            fname = root.func.id
            if fname in _PASSTHROUGH_FNS and root.args:
                # grouping-transparent wrapper: the hop is free
                if not receiver_groupfree(root.args[0], before, depth):
                    return False
            elif fname in _SOURCE_FNS:
                pass
            else:
                fn = _module_fn(fname)
                if fn is None or _body_has_grouping(fn, depth - 1):
                    return False
        else:
            return False  # attribute / subscript / literal root
        for n in ast.walk(expr):
            if isinstance(n, ast.Name):
                value = latest(n.id, before)
                if value is None:
                    continue
                if not receiver_groupfree(value, value.lineno, depth - 1):
                    return False
        return True

    def single_row_agg(value: ast.expr, depth: int) -> bool:
        """AST witness for the single-row-aggregate bound (ADVICE r13):
        the assignment value must contain ``recv.agg(F.min/max/count/
        sum(...))`` where ``recv``'s full assignment lineage is
        group-free — so ``grouped = df.groupBy(k)`` on a prior line can
        never smuggle an SF-linear grouped aggregate past the audit."""
        for node in ast.walk(value):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "agg"
                and any(
                    isinstance(sub, ast.Call)
                    and isinstance(sub.func, ast.Attribute)
                    and isinstance(sub.func.value, ast.Name)
                    and sub.func.value.id == "F"
                    and sub.func.attr in _AGG_FNS
                    for a in node.args
                    for sub in ast.walk(a)
                )
                and receiver_groupfree(node.func.value, node.lineno, depth)
            ):
                return True
        return False

    def bounded(name: str, before: int, depth: int) -> bool:
        value = latest(name, before)
        if value is None:
            return False
        seg = ast.get_source_segment(src, value) or ""
        if FIXEDK_EVIDENCE.search(seg):
            return True
        if single_row_agg(value, depth):
            return True
        if depth <= 0:
            return False
        deps = {
            n.id
            for n in ast.walk(value)
            if isinstance(n, ast.Name) and n.id != name and n.id in assigns
        }
        return any(bounded(d, value.lineno, depth - 1) for d in deps)

    return all(bounded(n, lineno, 4) for n in names)


def sites(pkg: str | None = None) -> list[tuple[str, int, str, str]]:
    out = []
    for dirpath, _dirs, files in os.walk(pkg or PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, ROOT)
            with open(path) as f:
                for i, line in enumerate(f, 1):
                    stripped = line.lstrip()
                    if stripped.startswith("#"):
                        continue
                    # both hint spellings: F.broadcast(df) and the
                    # string form df.hint("broadcast")
                    if "F.broadcast(" in line or re.search(
                        r"\.hint\(\s*['\"]broadcast['\"]", line
                    ):
                        out.append((rel, i, line.strip(), path))
    return out


def classify(
    rel: str, line: str, path: str | None = None, lineno: int = 0
) -> tuple[str, str] | None:
    for rule in RULES:
        file_re, line_re, klass, bound = rule[:4]
        verify_operand = len(rule) > 4 and rule[4]
        if re.search(file_re, rel) and re.search(line_re, line):
            if verify_operand and path is not None:
                if not fixedk_operand_bounded(path, lineno, line):
                    return (
                        "UNCLASSIFIED",
                        "name rule matched but operand lineage carries "
                        "no bound evidence",
                    )
            return klass, bound
    # docstring/comment mentions inside session.py helper text
    if "``F.broadcast" in line or line.startswith('"'):
        return None
    return ("UNCLASSIFIED", "")


def main(pkg: str | None = None) -> int:
    rows = []
    unclassified = []
    for rel, lineno, line, path in sites(pkg):
        c = classify(rel, line, path, lineno)
        if c is None:
            continue
        klass, bound = c
        if klass == "UNCLASSIFIED":
            unclassified.append((rel, lineno, line))
        rows.append((klass, rel, lineno, bound, line))

    order = ["resolver", "constant", "single-row", "fixed-k", "bounded-enum",
             "calendar", "witness-only", "caller-bound",
             "UNCLASSIFIED"]
    rows.sort(key=lambda r: (order.index(r[0]), r[1], r[2]))
    print("| class | site | bound |")
    print("|---|---|---|")
    for klass, rel, lineno, bound, _line in rows:
        print(f"| {klass} | `{rel}:{lineno}` | {bound} |")
    print(f"\n{len(rows)} sites; {len(unclassified)} unclassified.")
    if unclassified:
        print("\nUNCLASSIFIED sites (add a bound rule or route through a probe):",
              file=sys.stderr)
        for rel, lineno, line in unclassified:
            print(f"  {rel}:{lineno}: {line}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
