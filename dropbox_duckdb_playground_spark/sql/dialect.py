"""DuckDB-dialect → Spark SQL shim.

The reference passes SQL strings verbatim to DuckDB
(reference: batch_framework/etl.py:384-394). Its workload uses three
DuckDB-isms Spark SQL lacks (SURVEY §8.1-8.2):

1. ``HASH(expr)``            -> ``xxhash64(expr)``   (stable 64-bit ids;
   values differ from DuckDB's but ids are engine-internal join keys —
   reference examples/meta.py:61)
2. ``* EXCLUDE (c1, c2)``    -> ``* EXCEPT (c1, c2)`` (reference
   examples/graph/resolution/convertor.py:109-111)
3. ``SELECT DISTINCT ON (k) <list> FROM <rest>`` -> deterministic
   row_number window (DuckDB keeps an *arbitrary* row per key —
   reference examples/meta.py:60 and 10+ sites; we keep the first row
   under an explicit total order so results are reproducible/testable)

The catalog's oracle texts add four more, so a relational row can run
its one DuckDB text on both engines (rewritten outside string literals):

4. ``a // b``                -> ``a div b``
5. ``VARCHAR``               -> ``STRING``
6. ``json_extract_string(``  -> ``get_json_object(``
7. ``DUCK_ID`` (the portable md5 id) -> ``SPARK_ID``, the same value

This is intentionally a *string-level* shim for the patterns the
reference emits, not a general SQL parser: Catalyst is the parser.
"""

from __future__ import annotations

import re

# Portable 60-bit id from a string expression (same value in Spark & DuckDB).
SPARK_ID = "CAST(conv(substr(md5({x}), 1, 15), 16, 10) AS BIGINT)"
DUCK_ID = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"

_HASH_RE = re.compile(r"\bHASH\s*\(", re.IGNORECASE)
_EXCLUDE_RE = re.compile(r"(\*\s*)EXCLUDE\s*(\()", re.IGNORECASE)
_DISTINCT_ON_RE = re.compile(r"\bSELECT\s+DISTINCT\s+ON\s*\(", re.IGNORECASE)


def _match_paren(s: str, open_idx: int) -> int:
    """Index of the ')' matching the '(' at ``open_idx`` (string-aware)."""
    depth = 0
    in_str: str | None = None
    for i in range(open_idx, len(s)):
        ch = s[i]
        if in_str:
            if ch == in_str:
                in_str = None
            continue
        if ch in ("'", '"'):
            in_str = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i
    raise ValueError(f"unbalanced parentheses in SQL at {open_idx}: {s[open_idx:open_idx+80]!r}")


def _split_top_level(s: str) -> list[str]:
    """Split on top-level commas (not inside parens/strings)."""
    parts, depth, buf, in_str = [], 0, [], None
    for ch in s:
        if in_str:
            buf.append(ch)
            if ch == in_str:
                in_str = None
            continue
        if ch in ("'", '"'):
            in_str = ch
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return parts


def _find_top_level_keyword(s: str, keyword: str) -> int:
    """Offset of a top-level (paren-depth-0, outside strings) keyword, or -1."""
    pat = re.compile(rf"\b{keyword}\b", re.IGNORECASE)
    depth, in_str = 0, None
    i = 0
    while i < len(s):
        ch = s[i]
        if in_str:
            if ch == in_str:
                in_str = None
            i += 1
            continue
        if ch in ("'", '"'):
            in_str = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            m = pat.match(s, i)
            if m:
                return i
        i += 1
    return -1


def _rewrite_distinct_on(sql: str) -> str:
    """Rewrite every ``SELECT DISTINCT ON (keys) <list> FROM <rest>``.

    Deterministic form:

        SELECT <list-cols> FROM (
          SELECT <list>, row_number() OVER (
            PARTITION BY keys ORDER BY <all select-list items>) AS __rn__
          FROM <rest-without-trailing-ORDER-BY>
        ) WHERE __rn__ = 1 [ORDER BY ...]

    If the block carries a trailing top-level ORDER BY, it is used as the
    window order (DuckDB semantics: DISTINCT ON + ORDER BY keeps the first
    row per key in that order) and re-applied to the outer select.
    """
    while True:
        m = _DISTINCT_ON_RE.search(sql)
        if m is None:
            return sql
        open_idx = sql.index("(", m.start())
        close_idx = _match_paren(sql, open_idx)
        keys = [k.strip() for k in _split_top_level(sql[open_idx + 1 : close_idx])]

        # The SELECT block extends to the end of the current subquery: if
        # we're inside parens, to the enclosing ')'; else to end of string.
        # Find enclosing boundary by scanning from m.start() backwards.
        # Simpler: rewrite from here to the end of this subquery = scan
        # forward tracking depth; stop at depth<0 or end.
        depth = 0
        end = len(sql)
        in_str: str | None = None
        for i in range(close_idx + 1, len(sql)):
            ch = sql[i]
            if in_str:
                if ch == in_str:
                    in_str = None
                continue
            if ch in ("'", '"'):
                in_str = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth < 0:
                    end = i
                    break
        body = sql[close_idx + 1 : end]

        from_off = _find_top_level_keyword(body, "FROM")
        if from_off < 0:
            raise ValueError("DISTINCT ON without FROM is unsupported")
        select_list = body[:from_off].strip()
        rest = body[from_off:]

        # Pull a trailing top-level ORDER BY out of <rest>, if any.
        order_off = _find_top_level_keyword(rest, "ORDER")
        order_clause = None
        if order_off >= 0:
            order_clause = rest[order_off:].strip()
            rest = rest[:order_off].rstrip()

        items = [it.strip() for it in _split_top_level(select_list)]

        def split_alias(item: str) -> tuple[str, str]:
            """(expression, output-name) for one select item."""
            am = re.search(r"\s+AS\s+(\w+)\s*$", item, re.IGNORECASE)
            if am:
                return item[: am.start()].strip(), am.group(1)
            return item, item  # plain column ref (possibly qualified)

        alias_to_expr = {name: expr for expr, name in map(split_alias, items)}

        def resolve(token: str) -> str:
            # Spark window PARTITION BY / ORDER BY cannot reference
            # same-SELECT aliases — substitute the underlying expression.
            bare = token.strip()
            desc = ""
            dm = re.search(r"\s+(ASC|DESC)\s*$", bare, re.IGNORECASE)
            if dm:
                desc = " " + dm.group(1).upper()
                bare = bare[: dm.start()].strip()
            return alias_to_expr.get(bare, bare) + desc

        # Inner select list: give every item a name the OUTER select can
        # reference. Qualified refs (t.col) surface as their last segment;
        # unaliased expressions get a synthetic __c{i} — projecting the
        # raw item text outward would either fail to resolve (t.col) or
        # re-evaluate against the subquery output (count(*)).
        inner_items: list[str] = []
        out_names: list[str] = []
        for i, item in enumerate(items):
            expr, name = split_alias(item)
            if name == item:  # no explicit alias
                if re.fullmatch(r"[\w.]+", expr):
                    name = expr.split(".")[-1]
                    inner_items.append(expr)
                else:
                    name = f"__c{i}"
                    inner_items.append(f"{expr} AS {name}")
            else:
                inner_items.append(item)
            out_names.append(name)

        out_cols = ", ".join(out_names)
        keys = [resolve(k) for k in keys]
        if order_clause:
            order_items = _split_top_level(order_clause[len("ORDER BY") :].strip())
            window_order = ", ".join(resolve(o) for o in order_items)
        else:
            # deterministic tiebreak: total order over the whole select list
            window_order = ", ".join(
                resolve(name) for _, name in map(split_alias, items)
            )

        inner = (
            f"SELECT {', '.join(inner_items)}, row_number() OVER ("
            f"PARTITION BY {', '.join(keys)} ORDER BY {window_order}) AS __rn__ {rest}"
        )
        replacement = f"SELECT {out_cols} FROM ({inner}) WHERE __rn__ = 1"
        if order_clause:
            # the outer scope only has the projected names — map each
            # order item onto its output name where one exists
            expr_to_name = {
                split_alias(item)[0]: name for item, name in zip(items, out_names)
            }
            outer_order = []
            for o in _split_top_level(order_clause[len("ORDER BY") :].strip()):
                bare = o.strip()
                desc = ""
                dm = re.search(r"\s+(ASC|DESC)\s*$", bare, re.IGNORECASE)
                if dm:
                    desc = " " + dm.group(1).upper()
                    bare = bare[: dm.start()].strip()
                if bare in expr_to_name:
                    outer_order.append(expr_to_name[bare] + desc)
                elif re.fullmatch(r"[\w.]+", bare):
                    name = bare.split(".")[-1]
                    if name in out_names:
                        outer_order.append(name + desc)
                    # else: orders a column the outer scope doesn't
                    # project — it already did its semantic job as the
                    # window order (row selection); skip the re-sort
                else:
                    # arbitrary expression — may legitimately reference
                    # projected columns; pass through
                    outer_order.append(bare + desc)
            if outer_order:
                replacement += f" ORDER BY {', '.join(outer_order)}"
        sql = sql[: m.start()] + replacement + sql[end:]


_QUOTED_RE = re.compile(r"('[^']*'|\"[^\"]*\")")
_UNQUOTED_REWRITES = [
    # Exact only for integer operands, the only ones the catalog divides
    # this way: DuckDB 1.0 gives 7.5 // 2 = 3.75, Spark's div gives 3.
    (re.compile(r"\s*//\s*"), " div "),
    (re.compile(r"\bVARCHAR\b", re.IGNORECASE), "STRING"),
    (re.compile(r"\bjson_extract_string\s*\(", re.IGNORECASE), "get_json_object("),
]
_DUCK_ID_HEAD, _DUCK_ID_TAIL = DUCK_ID.split("{x}")


def _rewrite_unquoted(sql: str) -> str:
    """Apply ``_UNQUOTED_REWRITES`` to the text outside quoted literals
    and identifiers, so ``'http://x'`` survives."""
    parts = _QUOTED_RE.split(sql)  # quoted text at the odd indices
    for i in range(0, len(parts), 2):
        for pat, repl in _UNQUOTED_REWRITES:
            parts[i] = pat.sub(repl, parts[i])
    return "".join(parts)


def _rewrite_duck_id(sql: str) -> str:
    """``DUCK_ID.format(x=e)`` -> ``SPARK_ID.format(x=e)``, for the exact
    shape only; ``e`` may hold nested parentheses and literals."""
    pos = 0
    while (start := sql.find(_DUCK_ID_HEAD, pos)) >= 0:
        md5_open = start + len(_DUCK_ID_HEAD) - 1
        close = _match_paren(sql, md5_open)
        if not sql.startswith(_DUCK_ID_TAIL, close):
            pos = start + 1
            continue
        spark_id = SPARK_ID.format(x=sql[md5_open + 1 : close])
        sql = sql[:start] + spark_id + sql[close + len(_DUCK_ID_TAIL) :]
        pos = start + len(spark_id)
    return sql


def translate(sql: str) -> str:
    """Translate reference-dialect (DuckDB) SQL into Spark SQL."""
    sql = _rewrite_duck_id(_rewrite_unquoted(sql))
    sql = _HASH_RE.sub("xxhash64(", sql)
    sql = _EXCLUDE_RE.sub(r"\1EXCEPT \2", sql)
    sql = _rewrite_distinct_on(sql)
    return sql
