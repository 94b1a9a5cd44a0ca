"""Engine-level plan rewrites applied between parse and execution.

Multi-DISTINCT aggregate split — the reference plans DISTINCT aggregates
as two aggregation phases keyed on (grouping exprs, distinct exprs) and
never replicates input rows (analysis/AggregateInfo.java:42-60 "the
original query is equivalent to [a two-level query with] agg fns that
are aggregates of their input counterparts"). Catalyst handles ONE
distinct expression the same way (AggUtils.planAggregateWithOneDistinct
— no row replication), but with TWO OR MORE distinct expressions it
EXPANDS the input one copy per distinct group plus one for the plain
aggregates (RewriteDistinctAggregates): at the 100 TB design point that
Expand is exactly what a distributed plan must avoid (measured at sf30
on the registry's agg_count_distinct: 135M expanded rows vs 45M distinct
pairs; interleaved A/B medians 7.6 s vs 8.4 s calm and 13.4 s vs 40.1 s
inside a contention burst, r9 commit 3e4c94b).

This module generalizes that hand-written registry rewrite to PLAIN user
SQL. A single-block aggregate with N>=2 distinct expression groups —
a group is keyed by the distinct expr LIST (multi-column
COUNT(DISTINCT a, b) is one group on the tuple, r11) and carries every
distinct aggregate over that list (COUNT/SUM/AVG(DISTINCT x) ride one
group, r11) — is rewritten to one CTE per group — each a
single-distinct aggregate Catalyst plans without Expand, the first one
carrying every plain aggregate verbatim — joined back on the grouping
keys with null-safe equality; a HAVING clause maps onto the joined
result as an outer WHERE (the reference evaluates HAVING post-merge,
P/DistributedPlanner.java:835 — r11):

    WITH __tla0 AS (SELECT k, COUNT(DISTINCT d0) AS __cd0,
                           <plain aggs verbatim> FROM ... GROUP BY k),
         __tla1 AS (SELECT k, COUNT(DISTINCT d1) AS __cd1
                    FROM ... GROUP BY k)
    SELECT <items over __t0.*, __t1.__cd1>
    FROM __tla0 __t0 JOIN __tla1 __t1 ON __t0.k <=> __t1.k

Equivalence: each CTE is the original query restricted to a subset of
its aggregates, so the key sets are identical across CTEs (same
FROM/WHERE/GROUP BY over the same input) and the null-safe inner join
is a bijection; NULL grouping keys survive via <=>; with no grouping
keys each CTE is exactly one row and a CROSS JOIN recombines them
(COUNT over empty input is 0 in every CTE, exactly as in the original).
Any shape the rewrite cannot prove equivalent is returned unchanged and
keeps Catalyst's default plan.

The engine applies it above TWO_LEVEL_DISTINCT_MIN_INPUT_BYTES — the
same input-size gating idea as the engine's broadcast-hint gate (the
reference makes the equivalent choice from COMPUTE STATS row counts; a
path-based catalog has total input bytes).
"""

from __future__ import annotations

from typing import NamedTuple

from impala_spark.parser import (
    Token,
    _matching_paren,
    _split_top_level_commas,
    tokenize,
)

#: Input-size knee, measured with interleaved A/Bs (r10, this box):
#: at sf10 (~1 GiB) the rewrite LOSES warm (medians 2.1 vs 2.7 s — the
#: second column-pruned scan costs more than Expand saves when the
#: input is page-cached in one JVM); at sf30 (~3 GiB) it is a wash in
#: calm windows (4.8-6.0 s both arms, reps interleaved under drifting
#: load) and strictly more burst-robust (r9 registry A/B of the same
#: shape: 13.4 vs 40.1 s inside a contention burst — the Expand arm's
#: 3x shuffle footprint amplifies steal). The rewrite exists for the
#: 100 TB design point, where Expand multiplies SHUFFLED fact bytes by
#: (distinct groups + 1) while the extra scans are map-side and
#: column-pruned — so it arms above the single-box wash point rather
#: than at a local win threshold (there isn't one on cached local
#: input).
TWO_LEVEL_DISTINCT_MIN_INPUT_BYTES = 1 << 30

#: every aggregate name the dialect knows — used to route calls into
#: distinct groups vs plain aggregates. An aggregate NAME we don't know
#: is treated as a scalar function; its bare column args then fail the
#: key-reference check and the rewrite bails (callers can extend via
#: extra_aggs for CREATE FUNCTION UDAs).
_ALL_AGGS = frozenset({
    "count", "sum", "avg", "min", "max", "ndv", "group_concat",
    "stddev", "stddev_samp", "stddev_pop", "variance", "variance_samp",
    "variance_pop", "var_samp", "var_pop", "appx_median", "histogram",
    "sample", "distinctpc", "distinctpcsa", "percentile",
    "approx_count_distinct", "collect_list", "collect_set", "listagg",
})

#: non-reference words that may appear inside a select item without
#: being a column reference (operators/keywords/type names — CAST
#: targets, CASE arms, boolean connectives, sort direction)
_NEUTRAL_WORDS = frozenset({
    "as", "and", "or", "not", "is", "null", "true", "false", "in",
    "between", "like", "rlike", "regexp", "ilike", "iregexp", "div",
    "case", "when", "then", "else", "end",
    "asc", "desc", "nulls", "first", "last",
    "tinyint", "smallint", "int", "integer", "bigint", "float", "real",
    "double", "decimal", "numeric", "string", "varchar", "char",
    "boolean", "timestamp", "date",
    "interval", "year", "years", "month", "months", "day", "days",
    "hour", "hours", "minute", "minutes", "second", "seconds",
})

#: words neutral ONLY inside an OVER (...) clause — globally they could
#: mask a bare column reference that must bail
_WINDOW_WORDS = frozenset({
    "partition", "by", "order", "rows", "range", "between", "unbounded",
    "preceding", "following", "current", "row",
})

_WS = ("ws", "line_comment", "block_comment")


def _sig(tokens: list[Token], a: int, b: int) -> list[int]:
    return [k for k in range(a, b) if tokens[k].kind not in _WS]


def _norm(text: str) -> str:
    """Whitespace/case-normalized expression text for equality checks.
    Identifiers/keywords fold (Impala identifiers are case-insensitive);
    string literals DO NOT — 'A' and 'a' are different values, and
    folding them would merge COUNT(DISTINCT CASE WHEN x='p' ...) with
    the x='P' variant into one group (wrong results, caught r11)."""
    return " ".join(
        t.text if t.kind in ("string", "dstring") else t.text.lower()
        for t in tokenize(text)
        if t.kind not in _WS
    )


def _frag(tokens: list[Token], a: int, b: int) -> str:
    return "".join(t.text for t in tokens[a:b]).strip()


def _clause_spans(tokens: list[Token]) -> dict[str, tuple[int, int]] | None:
    """Top-level clause keyword -> (first token after the keyword, end).

    Returns None when the statement is not a single plain SELECT block
    (top-level set ops / WITH / VALUES / OVER windows). Subqueries are
    ALLOWED here and recorded under the special key "_SUBQ" as (pos, pos)
    pseudo-spans — the caller decides per clause: a subquery inside FROM
    or WHERE re-emits verbatim into every CTE (safe), one inside the
    select list / GROUP BY / HAVING / ORDER BY regions bails (r11; they
    were globally bailed before)."""
    n = len(tokens)
    sig = _sig(tokens, 0, n)
    if not sig or tokens[sig[0]].upper != "SELECT":
        return None
    depth = 0
    marks: list[tuple[str, int]] = []  # (clause, index of token AFTER keyword)
    subq: list[int] = []  # positions of depth>0 SELECT keywords
    k = 0
    while k < n:
        t = tokens[k]
        if t.kind == "op":
            if t.text == "(":
                depth += 1
            elif t.text == ")":
                depth -= 1
                if depth < 0:
                    return None
        elif t.kind == "word":
            u = t.upper
            if depth > 0:
                if u == "SELECT":
                    subq.append(k)
                k += 1
                continue
            if u in ("UNION", "WITH", "VALUES"):
                return None  # out of scope for this rewrite (top level)
            # OVER is allowed since r11: pure ranking windows re-emit over
            # the joined group rows (a bijection, so ranks are preserved);
            # window AGGREGATES bail in handle_agg's OVER lookahead
            if u == "SELECT":
                if marks:
                    return None  # second top-level SELECT (malformed)
                marks.append(("SELECT", k + 1))
            elif u in ("FROM", "WHERE", "HAVING", "LIMIT", "OFFSET"):
                marks.append((u, k + 1))
            elif u in ("GROUP", "ORDER"):
                j = k + 1
                while j < n and tokens[j].kind in _WS:
                    j += 1
                if j >= n or tokens[j].upper != "BY":
                    return None
                marks.append((u, j + 1))
                k = j
        k += 1
    if depth != 0 or not marks or marks[0][0] != "SELECT":
        return None
    spans: dict[str, tuple[int, int]] = {}
    for i, (name, start) in enumerate(marks):
        end = n
        if i + 1 < len(marks):
            j = marks[i + 1][1] - 1
            # GROUP BY / ORDER BY marks point past BY; keyword is further back
            if tokens[j].upper == "BY":
                j -= 1
                while j >= 0 and tokens[j].kind in _WS:
                    j -= 1
            end = j
        if name in spans:
            return None
        spans[name] = (start, end)
    if subq:
        spans["_SUBQ"] = tuple(subq)  # type: ignore[assignment]
    return spans


class _Bail(Exception):
    pass


def _find_agg_calls(tokens: list[Token], a: int, b: int, aggs: frozenset[str]):
    """All (name_idx, open_idx, close_idx, lname) aggregate calls in
    tokens[a:b], outermost only (valid SQL never nests aggregates)."""
    k = a
    out = []
    while k < b:
        t = tokens[k]
        if t.kind == "word":
            lname = t.text.lower()
            j = k + 1
            while j < b and tokens[j].kind in _WS:
                j += 1
            if j < b and tokens[j].kind == "op" and tokens[j].text == "(":
                if lname in aggs:
                    close = _matching_paren(tokens, j)
                    if close >= b:
                        raise _Bail()
                    out.append((k, j, close, lname))
                    k = close + 1
                    continue
        k += 1
    return out


def _item_alias_split(tokens: list[Token], a: int, b: int):
    """Return (expr_end, alias_text) — alias_text includes ' AS name'."""
    sig = _sig(tokens, a, b)
    if len(sig) >= 2 and tokens[sig[-2]].upper == "AS" and \
            tokens[sig[-1]].kind in ("word", "bident"):
        return sig[-2], " AS " + tokens[sig[-1]].text
    if (
        len(sig) >= 2
        and tokens[sig[-1]].kind in ("word", "bident")
        and tokens[sig[-1]].text.lower() not in _NEUTRAL_WORDS
        and (tokens[sig[-2]].kind in ("word", "bident", "number", "string")
             or (tokens[sig[-2]].kind == "op" and tokens[sig[-2]].text == ")"))
        and tokens[sig[-2]].text.lower() not in _NEUTRAL_WORDS
    ):
        # implicit alias: `expr name`
        return sig[-1], " AS " + tokens[sig[-1]].text
    return b, ""


def _match_expr_key(
    tokens: list[Token], k: int, b: int,
    expr_keys: list[tuple[list[str], str]],
) -> tuple[str, int] | None:
    """Match an atomic expression key's normalized significant-token
    sequence starting at token k; returns (replacement, resume index)
    on success. Atoms are full `fn(...)` spans, so two keys can never be
    token-prefixes of each other — first match wins."""
    for norm_list, repl in expr_keys:
        j = k
        ok = True
        for want in norm_list:
            while j < b and tokens[j].kind in _WS:
                j += 1
            if j >= b:
                ok = False
                break
            t = tokens[j]
            got = t.text if t.kind in ("string", "dstring") else t.text.lower()
            if got != want:
                ok = False
                break
            j += 1
        if ok:
            return repl, j
    return None


def _rewrite_region(
    tokens: list[Token], a: int, b: int,
    agg_sub: dict[tuple[int, int], str],
    key_map: dict[str, str],
    extra_names: frozenset[str],
    aggs: frozenset[str],
    expr_keys: list[tuple[list[str], str]] | None = None,
    alias_map: dict[str, str] | None = None,
    window_clause: bool = False,
    window_heads: frozenset[int] = frozenset(),
) -> str:
    """Re-emit tokens[a:b], substituting aggregate call spans per agg_sub
    and redirecting group-key references per key_map (normalized chain
    text -> outer-qualified name) / expr_keys (atomic call expression
    keys, r11) / alias_map (select-alias -> rewritten body, HAVING only,
    r11). Raises _Bail on any identifier it cannot prove is a group
    key / select alias."""
    out: list[str] = []
    k = a
    agg_by_start = {s: (e, txt) for (s, e), txt in agg_sub.items()}
    expr_keys = expr_keys or []
    while k < b:
        t = tokens[k]
        if k in agg_by_start:
            e, txt = agg_by_start[k]
            out.append(txt)
            k = e + 1
            continue
        if t.kind in _WS or t.kind in ("number", "string", "dstring"):
            out.append(t.text)
            k += 1
            continue
        if t.kind == "op":
            out.append(t.text)
            k += 1
            continue
        # word / bident: expression key atom, function name, neutral
        # word, or identifier chain
        m = _match_expr_key(tokens, k, b, expr_keys)
        if m is not None:
            out.append(m[0])
            k = m[1]
            continue
        lword = t.text.strip("`").lower()
        j = k + 1
        while j < b and tokens[j].kind in _WS:
            j += 1
        if (
            t.kind == "word" and lword == "over"
            and j < b and tokens[j].kind == "op" and tokens[j].text == "("
        ):
            # pure ranking window over the joined group rows (r11): the
            # OVER clause's keys/aggregate refs substitute like any other
            # region, with the window grammar words neutral INSIDE only
            close = _matching_paren(tokens, j)
            if close >= b:
                raise _Bail()
            inner = _rewrite_region(
                tokens, j + 1, close, agg_sub, key_map, extra_names,
                aggs, expr_keys, None, window_clause=True,
                window_heads=window_heads,
            )
            out.append("OVER (" + inner + ")")
            k = close + 1
            continue
        if j < b and tokens[j].kind == "op" and tokens[j].text == "(":
            if lword in aggs and k not in window_heads:
                raise _Bail()  # aggregate not covered by agg_sub
            # scalar function name — or a window AGGREGATE head (r12):
            # SUM/COUNT/... immediately followed by OVER passes through;
            # its argument's aggregate refs substitute via agg_sub and
            # its key refs via key_map like any other region
            out.append(t.text)
            k += 1
            continue
        if t.kind == "word" and (
            lword in _NEUTRAL_WORDS
            or (window_clause and lword in _WINDOW_WORDS)
        ):
            out.append(t.text)
            k += 1
            continue
        # identifier chain: ident (. ident)*
        chain = [t.text.strip("`")]
        kk = k
        while True:
            j = kk + 1
            while j < b and tokens[j].kind in _WS:
                j += 1
            if j < b and tokens[j].kind == "op" and tokens[j].text == ".":
                j2 = j + 1
                while j2 < b and tokens[j2].kind in _WS:
                    j2 += 1
                if j2 < b and tokens[j2].kind in ("word", "bident"):
                    chain.append(tokens[j2].text.strip("`"))
                    kk = j2
                    continue
            break
        ctext = ".".join(p.lower() for p in chain)
        if len(chain) == 1 and ctext in extra_names:
            # ORDER BY resolves bare names against select ALIASES before
            # the FROM scope (A/SelectStmt.java aliasSmap substitution;
            # Spark's order-by resolution prefers the project output) —
            # so an alias that shadows a grouping key with a different
            # body must sort by the alias, not the key (r11 ADVICE)
            out.append(f"`{chain[0]}`")
        elif ctext in key_map:
            out.append(key_map[ctext])
        elif chain[-1].lower() in extra_names:
            out.append(f"`{chain[-1]}`")
        elif alias_map and len(chain) == 1 and ctext in alias_map:
            # select-ALIAS reference (HAVING, r11): inline the item's
            # already-rewritten body — the emitted WHERE runs before the
            # outer projection, so the alias itself is not in scope
            out.append(f"({alias_map[ctext]})")
        else:
            raise _Bail()
        k = kk + 1
    return "".join(out)


def _split_with_prefix(
    sql: str, reserved: tuple[str, ...] = ("__tla", "__t")
) -> tuple[str, str] | None:
    """Split a statement into (CTE prefix text, final SELECT text) when it
    is a plain `WITH name AS (...) [, name AS (...)]* SELECT ...` block.
    The CTE bodies are opaque (re-emitted verbatim), so subqueries inside
    them don't limit the rewrite of the FINAL select. Returns None for
    anything else; names colliding with the calling rewrite's own alias
    prefixes (`reserved`) also return None."""
    try:
        tokens = tokenize(sql)
    except Exception:
        return None
    sig = _sig(tokens, 0, len(tokens))
    if not sig or tokens[sig[0]].upper != "WITH":
        return None
    i = 1  # position in sig
    while True:
        # ident AS ( balanced )
        if i + 2 >= len(sig):
            return None
        name_t = tokens[sig[i]]
        if name_t.kind not in ("word", "bident"):
            return None
        if name_t.text.strip("`").lower().startswith(reserved):
            return None  # alias collision with the rewrite's own names
        if tokens[sig[i + 1]].upper != "AS":
            return None
        open_tok = sig[i + 2]
        if tokens[open_tok].kind != "op" or tokens[open_tok].text != "(":
            return None
        close_tok = _matching_paren(tokens, open_tok)
        if close_tok >= len(tokens):
            return None
        # advance sig past the body
        j = i + 3
        while j < len(sig) and sig[j] <= close_tok:
            j += 1
        if j >= len(sig):
            return None
        nxt = tokens[sig[j]]
        if nxt.kind == "op" and nxt.text == ",":
            i = j + 1
            continue
        if nxt.upper == "SELECT":
            prefix = "".join(t.text for t in tokens[: sig[j]])
            tail = "".join(t.text for t in tokens[sig[j]:])
            return prefix, tail
        return None


#: per-row nondeterministic builtins: evaluating them once per CTE copy
#: yields inconsistent row sets (query-constant fns like now()/
#: current_timestamp() are fine — Spark folds them once per query)
_NONDET_FNS = frozenset({"rand", "randn", "random", "uuid"})


def _duplication_safe(sql: str) -> bool:
    """False when re-evaluating the statement's input clauses once per
    CTE could produce different rows per copy: a per-row nondeterministic
    function anywhere, or a LIMIT inside parens (subquery / WITH body —
    without a provable total order its row subset is not stable across
    evaluations)."""
    try:
        tokens = tokenize(sql)
    except Exception:
        return False
    depth = 0
    n = len(tokens)
    for k, t in enumerate(tokens):
        if t.kind == "op":
            if t.text == "(":
                depth += 1
            elif t.text == ")":
                depth -= 1
        elif t.kind == "word":
            if t.upper == "LIMIT" and depth > 0:
                return False
            if t.text.lower() in _NONDET_FNS:
                j = k + 1
                while j < n and tokens[j].kind in _WS:
                    j += 1
                if j < n and tokens[j].kind == "op" and tokens[j].text == "(":
                    return False
    return True


def _whole_key_match(
    tokens: list[Token], a: int, b: int,
    open_keys: list[tuple[list[str], str]],
) -> str | None:
    """Replacement text when tokens[a:b] IS (exactly) one of the open
    expression keys — complete-unit matching, the only placement where
    substituting a non-atomic expression is precedence-safe (r12)."""
    if not open_keys:
        return None
    sig = _sig(tokens, a, b)
    norm = [
        tokens[s].text if tokens[s].kind in ("string", "dstring")
        else tokens[s].text.lower()
        for s in sig
    ]
    for nl, rep in open_keys:
        if norm == nl:
            return rep
    return None


def two_level_distinct(
    sql: str, extra_aggs: frozenset[str] = frozenset()
) -> str | None:
    """Rewrite a single-block aggregate with >=2 distinct-expression
    groups into the reference's per-distinct two-phase shape (one CTE
    per distinct group, null-safe key join). Returns the rewritten
    Impala-dialect SQL, or None when the statement doesn't match /
    can't be proven equivalent (caller keeps the original).

    extra_aggs: additional aggregate function names (session UDAs) so
    they are recognized — an unknown aggregate would otherwise be
    treated as a scalar function."""
    if not _duplication_safe(sql):
        # the rewrite re-evaluates FROM/WHERE (and any WITH bodies) once
        # per CTE: per-row nondeterministic functions (rand/uuid) or a
        # nested bare LIMIT could yield a DIFFERENT row set per CTE —
        # the joined result would correspond to NO single execution of
        # the original statement (r11 guard; latent before)
        return None
    head = sql.lstrip()[:5].upper()
    if head.startswith("WITH"):
        # WITH-prefixed block (r11): the CTE list is opaque; the rewrite
        # applies to the final SELECT and the generated __tla CTEs are
        # appended to the SAME WITH list (they may reference the
        # original CTEs — later members see earlier ones)
        split = _split_with_prefix(sql)
        if split is None:
            return None
        prefix, tail = split
        rw_tail = two_level_distinct(tail, extra_aggs=extra_aggs)
        if rw_tail is None:
            return None
        assert rw_tail.upper().startswith("WITH ")
        return prefix.rstrip() + ", " + rw_tail[5:]
    try:
        tokens = tokenize(sql)
    except Exception:
        return None
    spans = _clause_spans(tokens)
    if spans is None or "FROM" not in spans:
        return None
    # Subqueries are fine inside FROM/WHERE (re-emitted verbatim into
    # every CTE) but not in the rewritten regions — a select-list /
    # GROUP BY / HAVING / ORDER BY subquery would need region surgery
    # this rewrite doesn't do (r11: was a global bail).
    for pos in spans.get("_SUBQ", ()):  # type: ignore[arg-type]
        for region in ("SELECT", "GROUP", "HAVING", "ORDER"):
            if region in spans:
                ra, rb = spans[region]
                if ra <= pos < rb:
                    return None
    aggs = _ALL_AGGS | frozenset(a.lower() for a in extra_aggs)
    try:
        sel_a, sel_b = spans["SELECT"]
        sig0 = _sig(tokens, sel_a, sel_b)
        if sig0 and tokens[sig0[0]].upper == "DISTINCT":
            return None  # SELECT DISTINCT: out of scope
        # ---- group keys -------------------------------------------------
        #: (full text WITH original quoting, bare name stripped) — all
        #: emitted key references are backtick-quoted so reserved-word /
        #: backquoted columns survive the re-emission (r10 ADVICE)
        keys: list[tuple[str, str]] = []
        key_map: dict[str, str] = {}
        #: expression grouping keys (r11): ATOMIC call expressions —
        #: a single `fn(...)` spanning the whole GROUP BY item (upper(k),
        #: YEAR(ts), CAST(x AS INT)). An atom binds tighter than any
        #: operator, so substituting its token span anywhere in the
        #: select/HAVING/ORDER regions is precedence-safe.
        #: list of (normalized significant-token list, replacement text).
        expr_keys: list[tuple[list[str], str]] = []
        #: OPEN expression keys (r12): anything else (`x + 1`, CASE ...)
        #: — NOT precedence-safe as an embedded token span, so they
        #: substitute only where the key constitutes a COMPLETE unit: a
        #: whole select item or a whole ORDER BY item (modulo direction
        #: tail). Embedded references still bail via _rewrite_region's
        #: unresolved-identifier check.
        open_keys: list[tuple[list[str], str]] = []
        if "GROUP" in spans:
            ga, gb = spans["GROUP"]
            for ia, ib in _split_top_level_commas(tokens, ga, gb):
                sig = _sig(tokens, ia, ib)
                if not sig:
                    raise _Bail()
                head = tokens[sig[0]]
                is_chain = all(
                    (tokens[s].kind in ("word", "bident"))
                    == (i % 2 == 0)  # word . word . word
                    and (tokens[s].kind == "op" and tokens[s].text == ".")
                    == (i % 2 == 1)
                    for i, s in enumerate(sig)
                ) and len(sig) % 2 == 1
                if is_chain:
                    # simple (possibly qualified) column ref
                    parts = []  # stripped, for map keys
                    raw_parts = []  # original quoting, for re-emission
                    for i, s in enumerate(sig):
                        if i % 2 == 1:
                            continue
                        tt = tokens[s]
                        if tt.kind == "word" and tt.text.lower() in aggs:
                            raise _Bail()
                        parts.append(tt.text.strip("`"))
                        raw_parts.append(tt.text)
                    full = ".".join(parts)
                    full_raw = ".".join(raw_parts)
                    bare = parts[-1]
                    if bare.lower() in (b.lower() for _, b in keys):
                        raise _Bail()  # bare-name collision across keys
                    keys.append((full_raw, bare))
                    key_map[full.lower()] = f"__t0.`{bare}`"
                    key_map[bare.lower()] = f"__t0.`{bare}`"
                    continue
                # expression grouping key (r11 atomic call / r12 open)
                if len(sig) == 1 and head.kind == "number":
                    raise _Bail()  # GROUP BY ordinal, not an expression
                if _find_agg_calls(tokens, ia, ib, aggs):
                    raise _Bail()  # aggregate inside a grouping key
                expr_text = _frag(tokens, ia, ib)
                norm_list = [
                    tokens[s].text
                    if tokens[s].kind in ("string", "dstring")
                    else tokens[s].text.lower()
                    for s in sig
                ]
                if any(norm_list == nl for nl, _ in expr_keys) or \
                        any(norm_list == nl for nl, _ in open_keys):
                    raise _Bail()  # duplicate expression key
                alias = f"__k{len(keys)}"
                keys.append((expr_text, alias))
                is_atom = (
                    head.kind in ("word", "bident")
                    and len(sig) >= 3
                    and tokens[sig[1]].kind == "op"
                    and tokens[sig[1]].text == "("
                    and _matching_paren(tokens, sig[1]) == sig[-1]
                )
                if is_atom:
                    expr_keys.append((norm_list, f"__t0.`{alias}`"))
                else:
                    open_keys.append((norm_list, f"__t0.`{alias}`"))
        # ---- aggregate calls in select list + ORDER BY -------------------
        distinct_groups: list[str] = []  # expr text per group
        group_ids: dict[str, int] = {}  # normalized expr -> group index
        #: per group: normalized call -> (verbatim call text, CTE alias);
        #: a group carries EVERY distinct aggregate over its expr list
        #: (COUNT/SUM/AVG(DISTINCT x) ride one CTE — AggregateInfo.java
        #: keys the second-level grouping on the distinct expr LIST, not
        #: the function), r11 widening beyond COUNT
        group_calls: list[dict[str, tuple[str, str]]] = []
        plains: list[str] = []  # verbatim aggregate call text
        plain_ids: dict[str, str] = {}  # normalized call -> __a alias
        agg_sub: dict[tuple[int, int], str] = {}

        #: name_idx of window-aggregate heads (SUM/COUNT/... directly
        #: followed by OVER) — allowed to pass through _rewrite_region
        window_heads: set[int] = set()

        def handle_agg(name_idx: int, open_idx: int, close_idx: int, lname: str):
            j = close_idx + 1
            while j < len(tokens) and tokens[j].kind in _WS:
                j += 1
            if j < len(tokens) and tokens[j].upper == "OVER":
                # window AGGREGATE over the grouped result (r12): the
                # joined result is row-bijective with the grouped result
                # (same key set per CTE, null-safe join — the r11
                # ranking-window argument), so COUNT/SUM(...) OVER maps
                # onto the joined columns. The ARGUMENT's aggregate
                # calls substitute like any other region (they are
                # invisible to this outermost-only scan — recurse), and
                # the head itself passes through _rewrite_region.
                arg_sig0 = _sig(tokens, open_idx + 1, close_idx)
                if arg_sig0 and tokens[arg_sig0[0]].upper == "DISTINCT":
                    # DISTINCT inside a window aggregate: invalid in
                    # both engines — keep the default plan so the
                    # analysis error is raised on the USER's text
                    raise _Bail()
                for ni, oi, ci, ln in _find_agg_calls(
                    tokens, open_idx + 1, close_idx, aggs
                ):
                    handle_agg(ni, oi, ci, ln)
                window_heads.add(name_idx)
                return
            arg_sig = _sig(tokens, open_idx + 1, close_idx)
            has_distinct = bool(arg_sig) and tokens[arg_sig[0]].upper == "DISTINCT"
            arg_a = (
                arg_sig[1] if has_distinct and len(arg_sig) > 1 else open_idx + 1
            )
            if has_distinct and lname in ("count", "sum", "avg", "group_concat"):
                # The distinct expr list keys the group (multi-column
                # COUNT(DISTINCT a, b) is one group on the tuple —
                # AggregateInfo.java treats the distinct expr LIST as the
                # second-level grouping); every distinct aggregate over
                # the same list rides the same CTE, emitted verbatim, and
                # a single-group CTE Catalyst plans without Expand
                # (AggUtils.planAggregateWithOneDistinct handles multiple
                # aggregate functions over one distinct set).
                args = _split_top_level_commas(tokens, arg_a, close_idx)
                arg_texts = [_frag(tokens, a, b) for a, b in args]
                if not arg_texts or any(not t for t in arg_texts):
                    raise _Bail()
                if lname == "group_concat":
                    # GROUP_CONCAT(DISTINCT expr [, sep]) (r12): DISTINCT
                    # keys on the EXPR only — the separator is required
                    # constant in the reference (BuiltinsDb.java:928-951)
                    # and is not part of the dedup set. Require a single
                    # string literal so verbatim re-emission is exact.
                    if len(arg_texts) == 2:
                        ssig = _sig(tokens, args[1][0], args[1][1])
                        if len(ssig) != 1 or tokens[ssig[0]].kind not in (
                                "string", "dstring"):
                            raise _Bail()
                    elif len(arg_texts) != 1:
                        raise _Bail()
                    key_texts = arg_texts[:1]
                else:
                    if lname != "count" and len(arg_texts) != 1:
                        raise _Bail()  # SUM/AVG take exactly one argument
                    key_texts = arg_texts
                dx = ", ".join(key_texts)
                dn = _norm(dx)
                g = group_ids.get(dn)
                if g is None:
                    # the distinct exprs must not themselves contain aggregates
                    for at in key_texts:
                        dtoks = tokenize(at)
                        if _find_agg_calls(dtoks, 0, len(dtoks), aggs):
                            raise _Bail()
                    g = len(distinct_groups)
                    group_ids[dn] = g
                    distinct_groups.append(dx)
                    group_calls.append({})
                call = f"{lname.upper()}(DISTINCT {', '.join(arg_texts)})"
                nk = _norm(call)
                entry = group_calls[g].get(nk)
                if entry is None:
                    # first call in a group keeps the historical __cd{g}
                    # name; siblings (other fns over the same expr list)
                    # get suffixed aliases
                    alias = (
                        f"__cd{g}" if not group_calls[g]
                        else f"__cd{g}_{len(group_calls[g])}"
                    )
                    group_calls[g][nk] = (call, alias)
                else:
                    alias = entry[1]
                agg_sub[(name_idx, close_idx)] = f"__t{g}.{alias}"
                return
            if has_distinct and lname in ("min", "max"):
                # MIN/MAX(DISTINCT x) == MIN/MAX(x); strip the keyword so
                # Catalyst doesn't count it as another distinct group
                call = f"{lname.upper()}({_frag(tokens, arg_a, close_idx)})"
            elif has_distinct:
                raise _Bail()  # UDA DISTINCT: not split
            else:
                call = _frag(tokens, name_idx, close_idx + 1)
                # a plain aggregate's args must not hide an aggregate
                # (malformed anyway) — and must not contain a subquery;
                # region subqueries bail via the _SUBQ span check above
            nk = _norm(call)
            alias = plain_ids.get(nk)
            if alias is None:
                alias = f"__a{len(plain_ids)}"
                plain_ids[nk] = alias
                plains.append(call)
            agg_sub[(name_idx, close_idx)] = f"__t0.{alias}"

        regions = [(sel_a, sel_b)]
        if "ORDER" in spans:
            regions.append(spans["ORDER"])
        if "HAVING" in spans:
            regions.append(spans["HAVING"])
        for ra, rb in regions:
            for name_idx, open_idx, close_idx, lname in _find_agg_calls(
                tokens, ra, rb, aggs
            ):
                handle_agg(name_idx, open_idx, close_idx, lname)
        if len(distinct_groups) < 2:
            # zero: nothing to split; one: Catalyst already plans it
            # two-phase without Expand (AggUtils.planAggregateWithOneDistinct)
            return None

        # ---- re-emit the select list ------------------------------------
        sel_items: list[str] = []
        aliases: list[str] = []
        #: lowered alias -> rewritten body (None = ambiguous, unusable)
        alias_body: dict[str, str | None] = {}
        for ia, ib in _split_top_level_commas(tokens, sel_a, sel_b):
            expr_end, alias_text = _item_alias_split(tokens, ia, ib)
            body = _whole_key_match(tokens, ia, expr_end, open_keys)
            if body is None:
                body = _rewrite_region(
                    tokens, ia, expr_end, agg_sub, key_map, frozenset(),
                    aggs, expr_keys, window_heads=frozenset(window_heads),
                )
            if alias_text:
                name = alias_text[4:].strip("`").lower()
                aliases.append(name)
                b = body.strip()
                if "OVER (" in b:
                    # window-bearing item: inlining it into the emitted
                    # WHERE would be invalid SQL — alias unusable there
                    alias_body[name] = None
                elif name in alias_body and alias_body[name] != b:
                    alias_body[name] = None  # duplicate alias: ambiguous
                elif name in key_map and key_map[name] != b:
                    # alias shadows a grouping key with a DIFFERENT expr:
                    # a HAVING reference is ambiguous between the two —
                    # keep the default plan rather than pick a side
                    if "HAVING" in spans:
                        raise _Bail()
                    alias_body[name] = None
                else:
                    alias_body.setdefault(name, b)
            sel_items.append(body.strip() + alias_text)
        # HAVING maps onto the joined result as an outer WHERE — the
        # reference evaluates HAVING post-merge on the final aggregation
        # (P/DistributedPlanner.java:835 addHavingPredicates after the
        # merge phase), and every group row exists in the join result.
        # Select ALIASES resolve by inlining the item's rewritten body
        # (r11; the emitted WHERE runs before the outer projection).
        having_text = ""
        if "HAVING" in spans:
            ha, hb = spans["HAVING"]
            having_text = " WHERE (" + _rewrite_region(
                tokens, ha, hb, agg_sub, key_map, frozenset(), aggs,
                expr_keys,
                {k: v for k, v in alias_body.items() if v is not None},
            ).strip() + ")"
        order_text = ""
        if "ORDER" in spans:
            oa, ob = spans["ORDER"]
            order_items = []
            for ia, ib in _split_top_level_commas(tokens, oa, ob):
                # an ORDER item is a complete unit modulo its direction
                # tail — strip `[ASC|DESC] [NULLS FIRST|LAST]` before
                # whole-key matching, re-append verbatim
                isig = _sig(tokens, ia, ib)
                tail_i = len(isig)
                if tail_i >= 2 and \
                        tokens[isig[tail_i - 2]].text.lower() == "nulls" and \
                        tokens[isig[tail_i - 1]].text.lower() in (
                            "first", "last"):
                    tail_i -= 2
                if tail_i >= 1 and tokens[isig[tail_i - 1]].kind == "word" \
                        and tokens[isig[tail_i - 1]].text.lower() in (
                            "asc", "desc"):
                    tail_i -= 1
                expr_b = isig[tail_i] if tail_i < len(isig) else ib
                tail_txt = (
                    " " + " ".join(tokens[s].text for s in isig[tail_i:])
                    if tail_i < len(isig) else ""
                )
                m = _whole_key_match(tokens, ia, expr_b, open_keys)
                if m is not None:
                    order_items.append(m + tail_txt)
                    continue
                order_items.append(
                    _rewrite_region(
                        tokens, ia, ib, agg_sub, key_map,
                        frozenset(aliases), aggs, expr_keys,
                        window_heads=frozenset(window_heads),
                    ).strip()
                )
            order_text = " ORDER BY " + ", ".join(order_items)
        limit_text = ""
        if "LIMIT" in spans:
            la, lb = spans["LIMIT"]
            limit_text = " LIMIT " + _frag(tokens, la, lb)
        if "OFFSET" in spans:
            la, lb = spans["OFFSET"]
            limit_text += " OFFSET " + _frag(tokens, la, lb)

        # ---- assemble ----------------------------------------------------
        fa, fb = spans["FROM"]
        base = " FROM " + _frag(tokens, fa, fb)
        if "WHERE" in spans:
            wa, wb = spans["WHERE"]
            base += " WHERE " + _frag(tokens, wa, wb)
        group_tail = (
            " GROUP BY " + ", ".join(str(i + 1) for i in range(len(keys)))
            if keys else ""
        )
        key_items = [f"{full_raw} AS `{bare}`" for full_raw, bare in keys]
        ctes = []
        for g, _dx in enumerate(distinct_groups):
            items = list(key_items)
            items += [
                f"{call} AS {alias}" for call, alias in group_calls[g].values()
            ]
            if g == 0:
                items += [
                    f"{call} AS {alias}"
                    for call, alias in zip(plains, plain_ids.values())
                ]
            ctes.append(
                f"__tla{g} AS (SELECT " + ", ".join(items) + base + group_tail + ")"
            )
        joins = "__tla0 __t0"
        for g in range(1, len(distinct_groups)):
            if keys:
                cond = " AND ".join(
                    f"__t0.`{bare}` <=> __t{g}.`{bare}`" for _, bare in keys
                )
                joins += f" JOIN __tla{g} __t{g} ON {cond}"
            else:
                joins += f" CROSS JOIN __tla{g} __t{g}"
        out = "WITH " + ", ".join(ctes)
        out += " SELECT " + ", ".join(sel_items)
        out += " FROM " + joins + having_text + order_text + limit_text
        return out
    except _Bail:
        return None
    except Exception:
        return None


# ---------------------------------------------------------------------------
# Global-rank rewrite (r12): scale-safe unpartitioned ranking windows
# ---------------------------------------------------------------------------

#: Gate for the two-pass global rank. An unpartitioned `RANK() OVER
#: (ORDER BY ...)` serializes its ENTIRE input through one task
#: (WindowExec "No Partition Defined"); below ~1 GiB of statement input
#: that single sorted task is cheaper than two extra exchanges, above it
#: the single task is the scale killer the r7 prefix-sum removed from
#: the curation pipeline (operators.global_running_sum — same pattern).
GLOBAL_RANK_MIN_INPUT_BYTES = 1 << 30

_RANKING_FNS = frozenset({"rank", "dense_rank", "row_number"})

#: words that end a window ORDER BY item's expression (direction tail)
_DIR_WORDS = frozenset({"asc", "desc"})


def _parse_window_item(tokens: list[Token], a: int, b: int):
    """If tokens[a:b] is exactly `FN() OVER (ORDER BY ...)` — optionally
    wrapped in a single CAST(... AS TYPE) — with FN a ranking function
    and the OVER clause a pure ORDER BY (no PARTITION BY / frame /
    NULLS modifiers), return (fn_upper, [(expr_text, 'ASC'|'DESC'),
    ...], cast_type_or_None). Anything else returns None."""
    sig = _sig(tokens, a, b)
    if not sig:
        return None
    cast_type = None
    if tokens[sig[0]].upper == "CAST":
        if len(sig) < 2 or tokens[sig[1]].kind != "op" \
                or tokens[sig[1]].text != "(":
            return None
        close = _matching_paren(tokens, sig[1])
        if close != sig[-1]:
            return None  # CAST doesn't span the whole item
        inner_a, inner_b = sig[1] + 1, close
        depth = 0
        as_pos = None
        for s in _sig(tokens, inner_a, inner_b):
            t = tokens[s]
            if t.kind == "op":
                if t.text == "(":
                    depth += 1
                elif t.text == ")":
                    depth -= 1
            elif t.kind == "word" and t.upper == "AS" and depth == 0:
                as_pos = s
        if as_pos is None:
            return None
        cast_type = _frag(tokens, as_pos + 1, inner_b).strip()
        a, b = inner_a, as_pos
        sig = _sig(tokens, a, b)
        if not sig:
            return None
    t0 = tokens[sig[0]]
    if t0.kind != "word" or t0.text.lower() not in _RANKING_FNS:
        return None
    fn = t0.text.upper()
    # FN ( ) OVER ( ... ) spanning the region exactly
    if len(sig) < 5 or tokens[sig[1]].kind != "op" \
            or tokens[sig[1]].text != "(":
        return None
    args_close = _matching_paren(tokens, sig[1])
    if args_close >= b or _sig(tokens, sig[1] + 1, args_close):
        return None  # ranking functions take no arguments
    j = args_close + 1
    while j < b and tokens[j].kind in _WS:
        j += 1
    if j >= b or tokens[j].upper != "OVER":
        return None
    j += 1
    while j < b and tokens[j].kind in _WS:
        j += 1
    if j >= b or tokens[j].kind != "op" or tokens[j].text != "(":
        return None
    over_close = _matching_paren(tokens, j)
    if over_close != sig[-1]:
        return None  # trailing operators after the window call
    osig = _sig(tokens, j + 1, over_close)
    if len(osig) < 3 or tokens[osig[0]].upper != "ORDER" \
            or tokens[osig[1]].upper != "BY":
        return None  # PARTITION BY / empty OVER: out of scope here
    # conservative scan: frames / named windows / NULLS modifiers bail
    depth = 0
    for s in osig[2:]:
        t = tokens[s]
        if t.kind == "op":
            if t.text == "(":
                depth += 1
            elif t.text == ")":
                depth -= 1
        elif depth == 0 and t.kind == "word" and t.text.lower() in (
            "partition", "rows", "range", "nulls",
        ):
            return None
    orders: list[tuple[str, str]] = []
    for ia, ib in _split_top_level_commas(tokens, osig[2], over_close):
        isig = _sig(tokens, ia, ib)
        if not isig:
            return None
        direction = "ASC"
        last = tokens[isig[-1]]
        if last.kind == "word" and last.text.lower() in _DIR_WORDS:
            direction = last.upper
            ib = isig[-1]
        expr = _frag(tokens, ia, ib).strip()
        if not expr:
            return None
        orders.append((expr, direction))
    return fn, orders, cast_type




class GlobalRankPlan(NamedTuple):
    """Parsed shape of a single-block statement carrying exactly one
    GLOBAL ranking window — everything the engine needs to execute it
    as the range-partitioned two-pass rank (operators.global_rank)
    instead of a single-task WindowExec."""

    base_sql: str               #: statement minus window item, +__wo cols
    descending: list[bool]      #: per window-order key
    kind: str                   #: 'rank' | 'dense_rank' | 'row_number'
    cast_type: str | None       #: user CAST around the window call
    win_alias: str              #: output alias of the window item
    win_pos: int                #: window item's position in the list
    item_aliases: list[str]     #: ALL output aliases, select-list order
    out_order: list[tuple[str, bool, str | None]]
    #: statement-level ORDER BY: (alias, desc?, explicit 'FIRST'/'LAST')
    limit: int | None
    offset: int | None


def parse_global_rank(sql: str) -> GlobalRankPlan | None:
    """Parse a statement whose select list carries exactly one GLOBAL
    ranking window (`RANK/DENSE_RANK/ROW_NUMBER() OVER (ORDER BY ...)`,
    no PARTITION BY) into a GlobalRankPlan for the two-pass rank — the
    distributed form of the plan the reference gets from its single-node
    analytic sort (planner/AnalyticPlanner.java sorts once per node; at
    100 TB Spark's equivalent is one task unless split). Returns None
    for any shape it cannot prove: multiple windows, windows outside
    the select list, PARTITION BY / frames / NULLS modifiers,
    non-alias outer ORDER BY items, non-literal LIMIT/OFFSET,
    duplicate select aliases."""
    if not _duplication_safe(sql):
        return None
    head = sql.lstrip()[:5].upper()
    if head.startswith("WITH"):
        split = _split_with_prefix(sql, reserved=("__gr", "__wo"))
        if split is None:
            return None
        prefix, tail = split
        plan = parse_global_rank(tail)
        if plan is None:
            return None
        return plan._replace(base_sql=prefix.rstrip() + " " + plan.base_sql)
    try:
        tokens = tokenize(sql)
    except Exception:
        return None
    spans = _clause_spans(tokens)
    if spans is None or "FROM" not in spans:
        return None
    sel_a, sel_b = spans["SELECT"]
    sig0 = _sig(tokens, sel_a, sel_b)
    if sig0 and tokens[sig0[0]].upper == "DISTINCT":
        return None
    try:
        win = None  # (pos, fn, orders, cast_type, alias)
        base_items: list[tuple[int, str, str]] = []  # (pos, expr, alias)
        aliases_seen: set[str] = set()
        win_span: tuple[int, int] | None = None
        for pos, (ia, ib) in enumerate(
            _split_top_level_commas(tokens, sel_a, sel_b)
        ):
            expr_end, alias_text = _item_alias_split(tokens, ia, ib)
            alias = alias_text[4:].strip("`") if alias_text else f"__c{pos}"
            low = alias.lower()
            if low in aliases_seen or low.startswith(("__gr", "__wo")):
                return None
            aliases_seen.add(low)
            parsed = _parse_window_item(tokens, ia, expr_end)
            if parsed is not None:
                if win is not None:
                    return None  # two global windows: out of scope
                win = (pos, *parsed, alias)
                win_span = (ia, expr_end)
                continue
            base_items.append(
                (pos, _frag(tokens, ia, expr_end).strip(), alias)
            )
        if win is None:
            return None
        wa, wb = win_span  # type: ignore[misc]
        # every OVER in the statement must belong to the one window item
        for k, t in enumerate(tokens):
            if t.kind == "word" and t.upper == "OVER" and not wa <= k < wb:
                return None
        win_pos, fn, orders, cast_type, win_alias = win
        if not orders:
            return None
        # ---- statement-level ORDER BY: bare select-alias items only ------
        out_order: list[tuple[str, bool, str | None]] = []
        if "ORDER" in spans:
            oa, ob = spans["ORDER"]
            for ia, ib in _split_top_level_commas(tokens, oa, ob):
                isig = _sig(tokens, ia, ib)
                if not isig:
                    return None
                name_t = tokens[isig[0]]
                name = name_t.text.strip("`").lower()
                if name_t.kind not in ("word", "bident") or \
                        name not in aliases_seen:
                    return None
                desc = False
                nulls: str | None = None
                j = 1
                words = [tokens[s].text.lower() for s in isig[1:]]
                if j <= len(words) and words and words[0] in ("asc", "desc"):
                    desc = words[0] == "desc"
                    words = words[1:]
                if words[:1] == ["nulls"] and words[1:2] and \
                        words[1] in ("first", "last"):
                    nulls = words[1].upper()
                    words = words[2:]
                if words:
                    return None
                out_order.append((name, desc, nulls))
        limit_n = offset_n = None
        for key in ("LIMIT", "OFFSET"):
            if key in spans:
                la, lb = spans[key]
                txt = _frag(tokens, la, lb).strip()
                if not txt.isdigit():
                    return None
                if key == "LIMIT":
                    limit_n = int(txt)
                else:
                    offset_n = int(txt)
        if offset_n is not None:
            return None  # OFFSET needs the sorted result; out of scope
        # ---- base statement ---------------------------------------------
        base_sel = [f"{expr} AS `{alias}`" for _p, expr, alias in base_items]
        base_sel += [
            f"{etext} AS __wo{j}" for j, (etext, _d) in enumerate(orders)
        ]
        fa, fb = spans["FROM"]
        base_sql = "SELECT " + ", ".join(base_sel) + " FROM " + \
            _frag(tokens, fa, fb).strip()
        for kw, lead in (
            ("WHERE", " WHERE "), ("GROUP", " GROUP BY "),
            ("HAVING", " HAVING "),
        ):
            if kw in spans:
                a2, b2 = spans[kw]
                base_sql += lead + _frag(tokens, a2, b2).strip()
        item_aliases = [""] * (len(base_items) + 1)
        item_aliases[win_pos] = win_alias
        for p, _e, a in base_items:
            item_aliases[p] = a
        return GlobalRankPlan(
            base_sql=base_sql,
            descending=[d == "DESC" for _e, d in orders],
            kind=fn.lower(),
            cast_type=cast_type,
            win_alias=win_alias,
            win_pos=win_pos,
            item_aliases=item_aliases,
            out_order=out_order,
            limit=limit_n,
            offset=offset_n,
        )
    except _Bail:
        return None
    except Exception:
        return None
