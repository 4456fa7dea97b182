"""Raster-SQL front-end: SQL string -> ZonalQuery IR.

The reference parses its "Raster SQL" dialect with mo_sql_parsing and
hand-rolled AST walkers (reference query.py:212-312). Neither
mo_sql_parsing nor sqlglot ships in this environment, so this is a small
recursive-descent parser for the same dialect:

    SELECT sel [, sel ...]
    FROM <layer | data>
    [WHERE cond]
    [GROUP BY g [, g ...]]          -- names, isoweek(name), or ordinals
    [ORDER BY c [ASC|DESC] [, ...]]
    [LIMIT n]

    sel  := layer | latitude | longitude | isoweek(layer)
          | SUM(x) | COUNT(*|x) | AVG(x) | MIN(x) | MAX(x)   [AS alias]
          | PERCENTILE(x, p) | MEDIAN(x) | MODE(x)
          | COUNT(DISTINCT x)                                [AS alias]
    cond := disjunction of conjunctions of comparisons;
            ops = < <= > >= = != <> IN (..) BETWEEN a AND b; parentheses ok

Plan-time rewrites applied here (constant folding, SURVEY.md section 4):
- filter literals encoded from meaning space to raw pixel space via the
  layer catalog (possibly expanding to IN-lists);
- every referenced layer validated against the environment (unknown layer
  -> UnknownLayerError, both a QueryParseError — the reference's fail-fast
  status path, test_raster_analysis.py:449-460 — and a LayerNotFoundError).
"""

from __future__ import annotations

import re

from ..sources.catalog import DataEnvironment, LayerNotFoundError
from .ir import Aggregate, FilterAnd, FilterLeaf, FilterOr, OrderBy, ZonalQuery

AGG_FUNCS = ("sum", "count", "avg", "min", "max")
RESERVED_SELECTORS = ("latitude", "longitude")


class QueryParseError(ValueError):
    pass


class UnknownLayerError(QueryParseError, LayerNotFoundError):
    """The query names a layer the environment does not have."""

    __str__ = BaseException.__str__  # the message, not KeyError's repr of it


_TOKEN_RE = re.compile(
    r"""
    \s*(
        '(?:[^']|'')*'            # quoted string
      | "[^"]*"                   # quoted identifier
      | [A-Za-z_][A-Za-z0-9_.]*   # identifier / keyword
      | \d+\.\d+ | \.\d+ | \d+    # number
      | <= | >= | != | <> | = | < | > | \( | \) | , | \*
    )""",
    re.VERBOSE,
)


def _tokenize(sql: str) -> list[str]:
    out, pos = [], 0
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if not m:
            if sql[pos:].strip() == "":
                break
            raise QueryParseError(f"cannot tokenize at: {sql[pos:pos+30]!r}")
        out.append(m.group(1))
        pos = m.end()
    return out


class _Parser:
    def __init__(self, tokens: list[str], env: DataEnvironment):
        self.toks = tokens
        self.i = 0
        self.env = env

    # -- token helpers -------------------------------------------------------
    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> str:
        if self.i >= len(self.toks):
            raise QueryParseError("unexpected end of query")
        t = self.toks[self.i]
        self.i += 1
        return t

    def accept_kw(self, *kws: str) -> str | None:
        t = self.peek()
        if t is not None and t.lower() in kws:
            self.i += 1
            return t.lower()
        return None

    def expect_kw(self, kw: str):
        if not self.accept_kw(kw):
            raise QueryParseError(f"expected {kw.upper()} at {self.peek()!r}")

    # -- grammar -------------------------------------------------------------
    def parse(self) -> ZonalQuery:
        self.expect_kw("select")
        selectors = [self._selector()]
        while self.accept_kw(","):
            selectors.append(self._selector())
        self.expect_kw("from")
        base = self.next()
        if base.lower() != "data":
            self._check_layer(base)
        where = None
        if self.accept_kw("where"):
            where = self._disjunction()
        groups: list = []
        if self.accept_kw("group"):
            self.expect_kw("by")
            groups.append(self._group_item(selectors))
            while self.accept_kw(","):
                groups.append(self._group_item(selectors))
        order = []
        if self.accept_kw("order"):
            self.expect_kw("by")
            order.append(self._order_item(selectors))
            while self.accept_kw(","):
                order.append(self._order_item(selectors))
        limit = None
        if self.accept_kw("limit"):
            limit = int(self.next())
        if self.peek() is not None:
            raise QueryParseError(f"unexpected trailing token {self.peek()!r}")
        return self._assemble(base, selectors, where, groups, order, limit)

    def _selector(self):
        t = self.next()
        tl = t.lower()
        if tl in ("percentile", "median", "mode", "stddev", "variance") and self.peek() == "(":
            self.next()
            layer = self.next()
            self._check_layer(layer)
            if tl in ("mode", "stddev", "variance"):
                if self.next() != ")":
                    raise QueryParseError(f"{tl}(layer) takes one argument")
                alias = self._alias() or f"{tl}_{layer.replace('.', '_')}"
                return ("agg", Aggregate(tl, layer, alias))
            frac = 0.5
            if tl == "percentile":
                if self.next() != ",":
                    raise QueryParseError("percentile(layer, fraction)")
                tok = self.next()
                try:
                    frac = float(tok)
                except ValueError:
                    raise QueryParseError(
                        f"percentile(layer, fraction): not a number: {tok!r}"
                    ) from None
                if not (0.0 < frac <= 1.0):
                    raise QueryParseError("percentile fraction must be in (0, 1]")
            if self.next() != ")":
                raise QueryParseError(f"expected ) after {tl} argument")
            alias = self._alias() or f"{tl}_{layer.replace('.', '_')}"
            return ("agg", Aggregate("percentile", layer, alias, param=frac))
        if tl in AGG_FUNCS and self.peek() == "(":
            self.next()
            if tl == "count" and self.accept_kw("distinct"):
                layer = self.next()
                self._check_layer(layer)
                if self.next() != ")":
                    raise QueryParseError("expected ) after COUNT(DISTINCT layer)")
                alias = self._alias() or f"count_distinct_{layer.replace('.', '_')}"
                return ("agg", Aggregate("count_distinct", layer, alias))
            arg = self.next()
            if arg == "*":
                layer = None
            else:
                layer = arg
                if tl != "count":
                    self._check_layer(layer)
                elif layer.lower() != "data":
                    self._check_layer(layer)
            if self.next() != ")":
                raise QueryParseError("expected ) after aggregate argument")
            alias = self._alias() or f"{tl}_{(layer or 'star').replace('.', '_')}"
            # count's argument is ignored (reference query.py:173-176)
            return ("agg", Aggregate(tl, None if tl == "count" else layer, alias))
        if tl == "isoweek" and self.peek() == "(":
            self.next()
            layer = self.next()
            self._check_layer(layer)
            if self.next() != ")":
                raise QueryParseError("expected ) after isoweek argument")
            self._alias()  # isoweek output columns are fixed *__isoyear/__isoweek
            return ("isoweek", layer)
        # plain column selector
        if tl not in RESERVED_SELECTORS:
            self._check_layer(t)
        self._alias()
        return ("col", t)

    def _alias(self) -> str | None:
        if self.accept_kw("as"):
            a = self.next()
            return a.strip('"')
        return None

    def _group_item(self, selectors):
        t = self.next()
        if t.isdigit():  # ordinal (reference supports GROUP BY 1)
            k = int(t) - 1
            if not (0 <= k < len(selectors)):
                raise QueryParseError(f"GROUP BY ordinal {t} out of range")
            kind, val = selectors[k]
            if kind == "col":
                return ("col", val)
            if kind == "isoweek":
                return ("isoweek", val)
            raise QueryParseError("cannot GROUP BY an aggregate")
        if t.lower() == "isoweek" and self.peek() == "(":
            self.next()
            layer = self.next()
            if self.next() != ")":
                raise QueryParseError("expected )")
            return ("isoweek", layer)
        self._check_layer(t)
        return ("col", t)

    def _order_item(self, selectors) -> OrderBy:
        col = self.next()
        if col.isdigit():
            k = int(col) - 1
            kind, val = selectors[k]
            col = val.alias if kind == "agg" else val
        asc = True
        if self.accept_kw("asc"):
            asc = True
        elif self.accept_kw("desc"):
            asc = False
        return OrderBy(col, asc)

    # -- WHERE ---------------------------------------------------------------
    def _disjunction(self):
        left = self._conjunction()
        parts = [left]
        while self.accept_kw("or"):
            parts.append(self._conjunction())
        return parts[0] if len(parts) == 1 else FilterOr(tuple(parts))

    def _conjunction(self):
        parts = [self._predicate()]
        while self.accept_kw("and"):
            parts.append(self._predicate())
        return parts[0] if len(parts) == 1 else FilterAnd(tuple(parts))

    def _predicate(self):
        if self.peek() == "(":
            self.next()
            node = self._disjunction()
            if self.next() != ")":
                raise QueryParseError("expected ) in filter")
            return node
        layer = self.next()
        self._check_layer(layer)
        t = self.next().lower()
        if t == "in":
            if self.next() != "(":
                raise QueryParseError("expected ( after IN")
            vals = [self._literal()]
            while self.accept_kw(","):
                vals.append(self._literal())
            if self.next() != ")":
                raise QueryParseError("expected ) after IN list")
            raws: list = []
            for v in vals:
                _, enc = self.env.encode_filter_literal(layer, "==", v)
                raws.extend(enc)
            return FilterLeaf(layer, "in", tuple(sorted(set(raws))))
        if t == "between":
            lo = self._literal()
            self.expect_kw("and")
            hi = self._literal()
            lo_op, lo_v = self.env.encode_filter_literal(layer, ">=", lo)
            hi_op, hi_v = self.env.encode_filter_literal(layer, "<=", hi)
            return FilterAnd(
                (
                    _leaf(layer, lo_op, lo_v, ">="),
                    _leaf(layer, hi_op, hi_v, "<="),
                )
            )
        op = {"=": "==", "<>": "!=", "!=": "!=", "<": "<", "<=": "<=", ">": ">", ">=": ">="}.get(t)
        if op is None:
            raise QueryParseError(f"unknown operator {t!r}")
        value = self._literal()
        enc_op, enc_vals = self.env.encode_filter_literal(layer, op, value)
        return _leaf(layer, enc_op, enc_vals, op)

    def _literal(self):
        t = self.next()
        if t.startswith("'"):
            return t[1:-1].replace("''", "'")
        if re.fullmatch(r"\d+", t):
            return int(t)
        if re.fullmatch(r"\d*\.\d+|\d+\.\d*", t):
            return float(t)
        raise QueryParseError(f"expected literal, got {t!r}")

    def _check_layer(self, name: str):
        try:
            self.env.get_layer(name)
        except LayerNotFoundError:
            raise UnknownLayerError(f"unknown layer {name!r}") from None

    # -- assembly -------------------------------------------------------------
    def _assemble(self, base, selectors, where, groups, order, limit) -> ZonalQuery:
        aggregates = tuple(v for k, v in selectors if k == "agg")
        group_layers: list[str] = []
        isoweek_layers: list[str] = []
        for kind, val in groups:
            group_layers.append(val)
            if kind == "isoweek":
                isoweek_layers.append(val)
        # selected isoweek()/columns outside GROUP BY: pixel-select mode
        plain_cols = [v for k, v in selectors if k == "col"]
        for kind, val in selectors:
            if kind == "isoweek" and val not in isoweek_layers and val in group_layers:
                isoweek_layers.append(val)
        select_pixels: tuple = ()
        if not aggregates and not group_layers:
            select_pixels = tuple(plain_cols)
        elif plain_cols and not group_layers:
            raise QueryParseError("non-aggregate selectors require GROUP BY")
        return ZonalQuery(
            base_layer=base if base.lower() != "data" else "data",
            group_layers=tuple(group_layers),
            aggregates=aggregates,
            where=where,
            select_pixels=select_pixels,
            order_by=tuple(order),
            limit=limit,
            isoweek_layers=tuple(isoweek_layers),
        )


def _leaf(layer: str, op: str, values: list, orig_op: str) -> FilterLeaf:
    if op == "in":
        return FilterLeaf(layer, "in", tuple(values))
    return FilterLeaf(layer, orig_op, tuple(values))


def parse_raster_sql(sql: str, env: DataEnvironment) -> ZonalQuery:
    """Parse + validate + plan-time encode a Raster-SQL query string."""
    return _Parser(_tokenize(sql), env).parse()
