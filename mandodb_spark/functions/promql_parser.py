"""PromQL text front-end: parse a PromQL query string and evaluate it
against a samples relation as an INSTANT or RANGE query — the piece that
lets a Prometheus user type the queries they already have instead of
composing ``functions.promql`` calls by hand.  One evaluator serves both
forms: a range query runs on the eval grid start + k·step, an instant
query on the one-point grid {t} (as Prometheus's engine runs it).

Public surface::

    parse(query)                        -> AST (tuples; stable, testable)
    unparse(node)                       -> canonical query text
    eval_instant(rel, query, at_ts)     -> DataFrame (labels, value)
    eval_range(rel, query, start, end, step)
                                        -> DataFrame (labels, ts, value)
    TSDB.promql / TSDB.promql_range     -> the same, store-backed and
                                           segment-pruned (engine.py)

Semantics (Prometheus query at time ``t``):

- a vector selector matches series by ``__name__`` + label matchers
  (``=``, ``!=``, ``=~``, ``!~`` — regexes fully anchored, as PromQL
  anchors them) and yields the newest sample per series within the
  lookback window;
- a range selector ``sel[range]`` feeds its enclosing range function the
  samples with ``ts ∈ [t − range + 1, t]`` (PromQL's half-open
  ``(t − range, t]`` on integer-second timestamps);
- ``offset d`` shifts a selector's evaluation time back by ``d``;
  ``@ ts`` pins it to an absolute time — literal unix timestamps and the
  ``start()`` / ``end()`` sugar (instant mode: both are ``at_ts``);
- aggregations support ``by (…)`` / ``without (…)`` in either position;
  binary operators support ``on``/``ignoring`` + ``group_left``/
  ``group_right`` matching and ``bool``;
- scalar∘vector arithmetic/comparisons follow promql/engine.go
  ``VectorscalarBinop``: arithmetic drops ``__name__``, plain
  comparisons FILTER samples (keeping the name), ``bool`` yields 1/0;
- NATIVE histograms are first-class: selectors over a histogram relation
  yield ``hvector`` results, ``histogram_quantile`` / ``histogram_
  fraction`` / ``histogram_count`` / ``histogram_sum`` / ``histogram_
  avg`` / ``histogram_stddev`` / ``histogram_stdvar``, ``rate`` /
  ``increase`` / ``delta`` counter math, ``sum``/``avg`` aggregation and
  ``+ - * /`` histogram arithmetic all lower to ``functions.native_hist``
  (grid-evaluated);
- general subqueries ``expr[r:s]`` evaluate the inner expression at
  absolute step-aligned points and feed the enclosing range function —
  any inner expression, nested subqueries included, lowered through the
  same grid engine with fan-out caps; HISTOGRAM-valued subqueries
  (``rate(h[5m:1m])``) feed the native counter math over histogram
  pseudo-samples.

Deliberate deltas (documented, raising ``PromqlError`` where relevant):
subqueries require an explicit step (no default-resolution inference);
histogram-valued subqueries are defined for ``rate``/``increase``/
``delta`` and the avg/sum/count/last/present over-time aggregates;
``@``-modifiers on selectors and subqueries evaluate once at the pinned
time and hold constant across the grid (as PromQL); classic
``histogram_quantile`` over a FLOAT vector reads bucket bounds from the
``le`` LABEL (``promql.histogram_quantile_vector``); ``scalar()`` and
``time()`` are per-eval-point scalars (joined on ts, never collected),
so a parameter that must be one number (topk's k, quantile's q, clamp
bounds) takes a literal or a literal-only expression.  Everything else
in functions/promql.py is reachable from text.

Grammar is a hand-rolled Pratt/recursive-descent pair — no parser
dependency, errors carry the token position.  Reference for semantics:
prometheus/promql/parser (public), re-expressed for this module's
DataFrame evaluation model.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import promql
from ..operators import sketch as _sketch

# --------------------------------------------------------------------- lexer

_TOKEN_RE = re.compile(r"""
    (?P<WS>\s+)
  | (?P<DURATION>[0-9]+(?:[smhdwy][0-9]*)+)      # 5m, 1h30m, 2d
  | (?P<NUMBER>(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?)
  | (?P<STRING>"(?:\\.|[^"\\])*"|'(?:\\.|[^'\\])*')
  | (?P<OP>=~|!~|!=|==|>=|<=|[-+*/%^=<>])
  | (?P<PUNCT>[(){}\[\],:@])
  | (?P<IDENT>[a-zA-Z_][a-zA-Z0-9_]*(?::[a-zA-Z0-9_:]+)*)   # colons: recording-rule names
""", re.VERBOSE)

_DUR_UNITS = {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800,
              "y": 31536000}


class PromqlError(ValueError):
    pass


@dataclass
class _Tok:
    kind: str
    text: str
    pos: int


def _lex(q: str) -> list[_Tok]:
    out, i = [], 0
    while i < len(q):
        m = _TOKEN_RE.match(q, i)
        if not m:
            raise PromqlError(f"unexpected character {q[i]!r} at {i}")
        kind = m.lastgroup
        if kind != "WS":
            out.append(_Tok(kind, m.group(), i))
        i = m.end()
    out.append(_Tok("EOF", "", len(q)))
    return out


def parse_duration(text: str) -> int:
    """``1h30m`` -> seconds (PromQL duration literal)."""
    total, i = 0, 0
    for m in re.finditer(r"([0-9]+)([smhdwy])", text):
        if m.start() != i:
            raise PromqlError(f"bad duration {text!r}")
        total += int(m.group(1)) * _DUR_UNITS[m.group(2)]
        i = m.end()
    if i != len(text) or total == 0:
        raise PromqlError(f"bad duration {text!r}")
    return total


# ----------------------------------------------------------------- AST nodes
# Plain tuples keep the tree printable and trivially comparable in tests:
#   ("num", 3.0)
#   ("selector", name|None, [(label, op, value)...], range_s|None, offset_s,
#    at_s|None)                              at_s: fixed @-modifier unix ts
#   ("call", fname, [args...])             args: nodes, numbers, strings
#   ("agg", fname, by|None, without|None, param|None, arg)
#   ("binop", op, lhs, rhs, matching)      matching: dict or None
#   ("unary", "-", node)
#   ("subquery", call_node, range_s, step_s, offset_s, at_s)

_AGGS = {"sum", "min", "max", "avg", "count", "stddev", "stdvar", "group",
         "topk", "bottomk", "quantile", "count_values",
         "limitk", "limit_ratio"}

_CMP = {"==", "!=", ">", "<", ">=", "<="}
_SET = {"and", "or", "unless"}

#: precedence (PromQL): or < and/unless < comparisons < +- < */% < ^
_PREC = {"or": 1, "and": 2, "unless": 2,
         "==": 3, "!=": 3, ">": 3, "<": 3, ">=": 3, "<=": 3,
         "+": 4, "-": 4, "*": 5, "/": 5, "%": 5, "atan2": 5, "^": 6}


class _Parser:
    def __init__(self, q: str) -> None:
        self.toks = _lex(q)
        self.i = 0

    def peek(self) -> _Tok:
        return self.toks[self.i]

    def next(self) -> _Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, text: str) -> _Tok:
        t = self.next()
        if t.text != text:
            raise PromqlError(f"expected {text!r}, got {t.text!r} at {t.pos}")
        return t

    # ---------------------------------------------------------- expressions
    def parse(self):
        node = self.expr(0)
        t = self.peek()
        if t.kind != "EOF":
            raise PromqlError(f"trailing input {t.text!r} at {t.pos}")
        return node

    def expr(self, min_prec: int):
        node = self.unary()
        while True:
            t = self.peek()
            op = t.text
            if op not in _PREC or _PREC[op] < min_prec:
                return node
            self.next()
            bool_mode = False
            if op in _CMP and self.peek().text == "bool":
                self.next()
                bool_mode = True
            matching = self.matching_clause()
            # ^ is right-associative; everything else left
            nxt = _PREC[op] if op == "^" else _PREC[op] + 1
            rhs = self.expr(nxt)
            m = dict(matching or {})
            if bool_mode:
                m["bool"] = True
            node = ("binop", op, node, rhs, m or None)

    def matching_clause(self):
        m = {}
        t = self.peek()
        if t.text in ("on", "ignoring"):
            self.next()
            m[t.text] = self.label_list()
        t = self.peek()
        if t.text in ("group_left", "group_right"):
            self.next()
            m["group"] = "left" if t.text == "group_left" else "right"
            if self.peek().text == "(":
                m["include"] = self.label_list()
        return m or None

    def label_list(self) -> list[str]:
        self.expect("(")
        out = []
        while self.peek().text != ")":
            tok = self.next()
            if tok.kind != "IDENT":
                raise PromqlError(f"expected label name at {tok.pos}")
            out.append(tok.text)
            if self.peek().text == ",":
                self.next()
        self.expect(")")
        return out

    def unary(self):
        # unary +/- binds looser than ^ (PromQL: -2^2 == -4) but tighter
        # than */%: parse the operand at ^'s precedence level.
        t = self.peek()
        if t.text == "-":
            self.next()
            return ("unary", "-", self.expr(_PREC["^"]))
        if t.text == "+":
            self.next()
            return self.expr(_PREC["^"])
        return self.primary()

    def primary(self):
        t = self.peek()
        if t.text == "(":
            self.next()
            node = self.expr(0)
            self.expect(")")
            return self.selector_suffix_or(node)
        if t.kind == "NUMBER":
            self.next()
            return ("num", float(t.text))
        if t.kind == "STRING":
            self.next()
            return ("str", t.text[1:-1])
        if t.text == "{":
            return self.selector(None)
        if t.kind == "IDENT":
            name = self.next().text
            if self.peek().text == "(" or (
                name in _AGGS and self.peek().text in ("by", "without")):
                return self.call_or_agg(name)
            return self.selector(name)
        raise PromqlError(f"unexpected {t.text!r} at {t.pos}")

    def selector_suffix_or(self, node):
        # parenthesized expressions admit a SUBQUERY suffix
        # ((a + b)[r:s], as PromQL); a plain [range] still requires a
        # selector and fails in subquery_suffix's ':' expect
        if self.peek().text == "[":
            return self.subquery_suffix(node)
        return node

    def call_or_agg(self, name: str):
        if name in _AGGS:
            by = without = None
            if self.peek().text in ("by", "without"):
                which = self.next().text
                lst = self.label_list()
                by, without = (lst, None) if which == "by" else (None, lst)
            self.expect("(")
            args = self.arg_list()
            self.expect(")")
            if self.peek().text in ("by", "without"):
                which = self.next().text
                lst = self.label_list()
                by, without = (lst, None) if which == "by" else (None, lst)
            param = None
            if name in ("topk", "bottomk", "quantile", "count_values",
                        "limitk", "limit_ratio"):
                if len(args) != 2:
                    raise PromqlError(f"{name} takes (param, vector)")
                param, arg = args
            else:
                if len(args) != 1:
                    raise PromqlError(f"{name} takes one vector argument")
                arg = args[0]
            node = ("agg", name, by, without, param, arg)
            if self.peek().text == "[":
                node = self.subquery_suffix(node)
            return node
        self.expect("(")
        args = self.arg_list()
        self.expect(")")
        node = ("call", name, args)
        if self.peek().text == "[":
            node = self.subquery_suffix(node)
        return node

    def subquery_suffix(self, node):
        """``expr[range:step]`` — PromQL subquery.  The step is required
        (this engine has no default evaluation interval to fall back on)."""
        self.expect("[")
        dt = self.next()
        if dt.kind != "DURATION":
            raise PromqlError(f"expected duration at {dt.pos}")
        range_s = parse_duration(dt.text)
        self.expect(":")
        st = self.next()
        if st.kind != "DURATION":
            raise PromqlError(f"expected step duration at {st.pos}")
        step_s = parse_duration(st.text)
        self.expect("]")
        offset_s, at_s = self.modifiers()
        return ("subquery", node, range_s, step_s, offset_s, at_s)

    def modifiers(self):
        """Trailing ``offset <d>`` / ``@ <ts|start()|end()>`` modifiers in
        either order (PromQL) — shared by selectors and subqueries.
        Each may appear at most once: Prometheus rejects ``offset 5m
        offset 5m`` ('offset may not be set multiple times'), so keeping
        only the last would silently diverge (ADVICE r11)."""
        offset_s, at_s = 0, None
        seen: set[str] = set()
        while self.peek().text in ("offset", "@"):
            mod = self.next().text
            if mod in seen:
                raise PromqlError(
                    f"{'offset' if mod == 'offset' else '@'} may not be "
                    "set multiple times")
            seen.add(mod)
            if mod == "offset":
                dt = self.next()
                if dt.kind != "DURATION":
                    raise PromqlError(f"expected duration at {dt.pos}")
                offset_s = parse_duration(dt.text)
            else:
                nt = self.next()
                if nt.kind == "IDENT" and nt.text in ("start", "end"):
                    # `@ start()` / `@ end()` preprocessor sugar (PromQL
                    # 2.25; Grafana emits these) — kept symbolic in the
                    # AST, resolved by resolve_at() at evaluation entry.
                    self.expect("(")
                    self.expect(")")
                    at_s = nt.text
                elif nt.kind == "NUMBER":
                    at_s = int(float(nt.text))
                else:
                    raise PromqlError(
                        f"expected unix timestamp or start()/end() "
                        f"after @ at {nt.pos}")
        return offset_s, at_s

    def arg_list(self):
        args = []
        while self.peek().text != ")":
            args.append(self.expr(0))
            if self.peek().text == ",":
                self.next()
        return args

    def selector(self, name: str | None):
        matchers = []
        if self.peek().text == "{":
            self.next()
            while self.peek().text != "}":
                lt = self.next()
                if lt.kind != "IDENT":
                    raise PromqlError(f"expected label name at {lt.pos}")
                op = self.next()
                if op.text not in ("=", "!=", "=~", "!~"):
                    raise PromqlError(f"bad matcher op {op.text!r} at {op.pos}")
                vt = self.next()
                if vt.kind != "STRING":
                    raise PromqlError(f"expected string at {vt.pos}")
                matchers.append((lt.text, op.text, vt.text[1:-1]))
                if self.peek().text == ",":
                    self.next()
            self.expect("}")
        if name is None and not matchers:
            raise PromqlError("empty selector")
        range_s = None
        if self.peek().text == "[":
            self.next()
            dt = self.next()
            if dt.kind != "DURATION":
                raise PromqlError(f"expected duration at {dt.pos}")
            range_s = parse_duration(dt.text)
            if self.peek().text == ":":
                # m[r:s] — a SUBQUERY over the bare instant selector
                # (PromQL: subquery suffixes attach to any expression);
                # the trailing offset belongs to the subquery
                self.next()
                st = self.next()
                if st.kind != "DURATION":
                    raise PromqlError(f"expected step duration at {st.pos}")
                step_s = parse_duration(st.text)
                self.expect("]")
                inner = ("selector", name, matchers, None, 0, None)
                offset_s, at_s = self.modifiers()
                return ("subquery", inner, range_s, step_s, offset_s, at_s)
            self.expect("]")
        offset_s, at_s = self.modifiers()
        node = ("selector", name, matchers, range_s, offset_s, at_s)
        if range_s is None and self.peek().text == "[":
            # modifier-carrying selector followed by a subquery suffix
            # (m @ 600 [10m:5m], m offset 1m [1h:5m])
            return self.subquery_suffix(node)
        return node


def parse(query: str):
    """Parse a PromQL expression into the module's tuple AST."""
    return _Parser(query).parse()


def _fmt_duration(s: int) -> str:
    out = []
    for unit, sec in (("w", 604800), ("d", 86400), ("h", 3600),
                      ("m", 60), ("s", 1)):
        if s >= sec:
            out.append(f"{s // sec}{unit}")
            s %= sec
    return "".join(out) or "0s"


def unparse(node) -> str:
    """AST → canonical PromQL text; ``parse(unparse(ast)) == ast`` for
    every AST this parser produces (property-tested).  Parenthesizes all
    binop operands, which is always precedence-safe."""
    kind = node[0]
    if kind == "num":
        v = node[1]
        return repr(int(v)) if float(v).is_integer() else repr(v)
    if kind == "str":
        return '"' + node[1].replace("\\", "\\\\").replace('"', '\\"') + '"'
    if kind == "unary":
        return f"-({unparse(node[2])})"
    if kind == "selector":
        _, name, matchers, range_s, offset_s, at_s = node
        s = name or ""
        if matchers:
            body = ",".join(
                f'{l}{op}"{v}"' for l, op, v in matchers)
            s += "{" + body + "}"
        if range_s is not None:
            s += f"[{_fmt_duration(range_s)}]"
        if offset_s:
            s += f" offset {_fmt_duration(offset_s)}"
        if at_s is not None:
            s += f" @ {at_s}()" if isinstance(at_s, str) else f" @ {at_s}"
        return s
    if kind == "subquery":
        _, inner, range_s, step_s, offset_s, at_s = node
        s = f"{unparse(inner)}[{_fmt_duration(range_s)}:{_fmt_duration(step_s)}]"
        if offset_s:
            s += f" offset {_fmt_duration(offset_s)}"
        if at_s is not None:
            s += f" @ {at_s}()" if isinstance(at_s, str) else f" @ {at_s}"
        return s
    if kind == "call":
        _, fname, args = node
        return f"{fname}({', '.join(unparse(a) for a in args)})"
    if kind == "agg":
        _, fname, by, without, param, arg = node
        mod = ""
        if by is not None:
            mod = f" by ({', '.join(by)}) "
        elif without is not None:
            mod = f" without ({', '.join(without)}) "
        inner = ([unparse(param)] if param is not None else []) + [unparse(arg)]
        return f"{fname}{mod}({', '.join(inner)})"
    if kind == "binop":
        _, op, lhs, rhs, matching = node
        m = dict(matching or {})
        parts = [f"({unparse(lhs)})", op]
        if m.pop("bool", False):
            parts.append("bool")
        if "on" in m:
            parts.append(f"on({', '.join(m['on'])})")
        if "ignoring" in m:
            parts.append(f"ignoring({', '.join(m['ignoring'])})")
        if m.get("group"):
            g = "group_left" if m["group"] == "left" else "group_right"
            if m.get("include"):
                g += f"({', '.join(m['include'])})"
            parts.append(g)
        parts.append(f"({unparse(rhs)})")
        return " ".join(parts)
    raise PromqlError(f"cannot unparse node {kind!r}")


def resolve_at(node, start: int, end: int):
    """Resolve ``@ start()`` / ``@ end()`` sugar (PromQL 2.25 preprocessors
    — Grafana emits these) to absolute timestamps: the symbolic
    ``at_s = "start"/"end"`` left by the parser becomes ``int(start)`` /
    ``int(end)``.  Instant queries resolve with ``start == end == at_ts``
    (Prometheus: both preprocessors equal the eval time there)."""
    if isinstance(node, list):
        return [resolve_at(c, start, end) for c in node]
    if not isinstance(node, tuple):
        return node
    if node[0] == "selector" and isinstance(node[5], str):
        return node[:5] + (int(start if node[5] == "start" else end),)
    if node[0] == "subquery" and isinstance(node[5], str):
        return (node[0], resolve_at(node[1], start, end), node[2], node[3],
                node[4], int(start if node[5] == "start" else end))
    return tuple(resolve_at(c, start, end) for c in node)


def time_window(node_or_query, at_ts: int, lookback: int = 300) -> tuple[int, int]:
    """Exact [min_ts, max_ts] any selector in the expression can touch at
    evaluation time ``at_ts`` — the segment-pruning predicate for
    store-backed evaluation.  An instant selector at effective time e
    (= ``@``-timestamp if fixed, else ``at_ts``, minus its offset) touches
    [e − lookback, e]; a range selector [e − range + 1, e] (conservatively
    widened to e − range); subqueries compose through their inner
    expression.  Bounds are monotone in ``at_ts``, so a range query over
    [start, end] prunes to [time_window(q, start).lo,
    time_window(q, end).hi].  A pure-scalar expression touches nothing:
    the window degenerates to [at_ts, at_ts]."""
    node = parse(node_or_query) if isinstance(node_or_query, str) else node_or_query
    # @ start()/end() sugar: resolving both to at_ts is CONSERVATIVE for
    # pruning — the facade takes lo at t=start and hi at t=end, so a
    # start()-fixed selector's hi widens toward end (never narrows).
    node = resolve_at(node, at_ts, at_ts)

    def bounds(n, t: int) -> tuple[int, int] | None:
        """(lo, hi) the subtree touches, or None if it touches no data."""
        if not isinstance(n, tuple):
            return None
        if n[0] == "selector":
            _, _name, _m, range_s, offset_s, at_s = n
            e = (at_s if at_s is not None else t) - offset_s
            return (e - (range_s if range_s is not None else lookback), e)
        if n[0] == "subquery":
            # inner expr is evaluated at points in [e-off-range, e-off]
            # where e = the @-timestamp if fixed, else t
            _, inner, range_s, _step_s, offset_s, at_s = n
            e = at_s if at_s is not None else t
            lo = bounds(inner, e - offset_s - range_s)
            hi = bounds(inner, e - offset_s)
            return (lo[0], hi[1]) if lo and hi else None
        children = []
        for child in n[1:]:
            if isinstance(child, tuple):
                children.append(child)
            elif isinstance(child, list):
                children.extend(c for c in child if isinstance(c, tuple))
        got = [b for b in (bounds(c, t) for c in children) if b]
        if not got:
            return None
        return (min(b[0] for b in got), max(b[1] for b in got))

    b = bounds(node, int(at_ts))
    return b if b is not None else (int(at_ts), int(at_ts))


# ------------------------------------------------------------------ evaluate
# ONE evaluator: the expression at every eval point t = start + k·step
# (Prometheus query_range).  An instant query is the one-point grid
# start = end = t — how Prometheus's own engine runs it — so instant and
# range answers agree by construction.  Vectors are (labels, ts, value)
# frames — one row per series per eval point — produced by the grid_*
# primitives in functions/promql.py (explode-to-covering-points + hash
# agg; no per-step loop, no whole-series window).  Aggregations group by
# (labels, ts); binary operators match on (label-key, ts).

#: call forms with a distributed grid lowering (grid_rate modes)
_RANGE_MODES = {k: k for k in (
    "rate", "increase", "delta", "irate", "idelta", "changes", "resets")}

_OVER_TIME_FNS = {f"{k}_over_time": k for k in (
    "avg", "min", "max", "sum", "count", "stddev", "stdvar", "last",
    "present", "ts_of_max", "ts_of_min", "ts_of_last")}

_SCALAR_FNS = {"abs", "ceil", "floor", "exp", "ln", "log2", "log10",
               "sqrt", "sgn",
               "sin", "cos", "tan", "asin", "acos", "atan",
               "sinh", "cosh", "tanh", "asinh", "acosh", "atanh",
               "deg", "rad"}

_CALENDAR_FNS = set(promql._CALENDAR)

#: native-histogram scalar extractors (functions/native_hist.py) — these
#: exist ONLY for native histograms in Prometheus (classic le-bucket
#: series carry no structured sample to read).
_HIST_SCALAR_FNS = {
    "histogram_count": "count",
    "histogram_sum": "sum",
    "histogram_avg": "avg",
    "histogram_stddev": "stddev",
    "histogram_stdvar": "stdvar",
}

#: presentation-only functions: they order an instant query's result and
#: pass a range query's through (Prometheus docs/querying/functions.md#sort)
_SORT_FNS = ("sort", "sort_desc", "sort_by_label", "sort_by_label_desc")


class _RCtx:
    def __init__(self, rel: DataFrame, start: int, end: int, step: int,
                 lookback: int, hist_rel: DataFrame | None = None,
                 hist_metrics: "set[str] | None" = None) -> None:
        self.rel = rel
        self.start, self.end, self.step = int(start), int(end), int(step)
        self.lookback = int(lookback)
        self.hist_rel = hist_rel
        self._hist_metrics: set[str] | None = hist_metrics

    @property
    def hist_metrics(self) -> set[str]:
        """Metric names that resolve to NATIVE-HISTOGRAM series.  Prometheus
        decides float-vs-histogram per sample at runtime; the declarative
        analogue is this name set, collected lazily ONCE per query from the
        histogram relation's ``__name__`` values — the same bounded
        metadata class as the segment listing (one distinct over the tiny
        hist store, never consulted when no hist_rel is configured)."""
        if self._hist_metrics is None:
            if self.hist_rel is None:
                self._hist_metrics = set()
            else:
                self._hist_metrics = {
                    r["__m"]
                    for r in self.hist_rel.select(
                        F.col("labels").getItem(promql.METRIC_NAME_LABEL)
                        .alias("__m")
                    ).distinct().collect()
                    if r["__m"] is not None
                }
        return self._hist_metrics

    def grid(self, start: int, end: int, step: int) -> "_RCtx":
        """The same query on another eval grid — a subquery's fine grid,
        or the one point an ``@`` modifier pins."""
        return _RCtx(self.rel, start, end, step, self.lookback,
                     hist_rel=self.hist_rel, hist_metrics=self.hist_metrics)


def _matcher_filter(rel: DataFrame, name: str | None, matchers) -> DataFrame:
    conds = []
    if name is not None:
        conds.append(F.col("labels").getItem(promql.METRIC_NAME_LABEL) == name)
    for label, op, value in matchers:
        col = F.col("labels").getItem(label)
        if op == "=":
            # Prometheus treats a missing label as the empty string, so
            # {l=""} must match series that LACK l (col is NULL) as well
            # as ones carrying l="".  eqNullSafe("") would be false for
            # NULL and silently drop absent-label series.
            conds.append((col.isNull() | (col == value)) if value == ""
                         else (col == value))
        elif op == "!=":
            # Dual of the above: {l!=""} means "l exists and is non-empty".
            conds.append((col.isNotNull() & (col != value)) if value == ""
                         else (col.isNull() | (col != value)))
        elif op == "=~":
            conds.append(F.coalesce(col, F.lit("")).rlike(f"^(?:{value})$"))
        elif op == "!~":
            conds.append(~F.coalesce(col, F.lit("")).rlike(f"^(?:{value})$"))
    out = rel
    for c in conds:
        out = out.filter(c)
    return out


def _drop_name(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "labels",
        F.map_filter(F.col("labels"),
                     lambda k, _: k != F.lit(promql.METRIC_NAME_LABEL)),
    )


def _empty_labels():
    """The empty label set of scalar results."""
    return F.map_from_arrays(F.array().cast("array<string>"),
                             F.array().cast("array<string>"))


def _strip_r(df: DataFrame) -> DataFrame:
    return df.select("labels", F.col("ts").cast("long").alias("ts"),
                     F.col("value").cast("double").alias("value"))


def _shift(df: DataFrame, offset_s: int) -> DataFrame:
    return df.withColumn("ts", (F.col("ts") + F.lit(offset_s)).cast("long")) \
        if offset_s else df


def _shift_h(df: DataFrame, offset_s: int) -> DataFrame:
    """offset re-stamp for histogram grid vectors (keeps the hist column)."""
    return _shift(df, offset_s).select("series_key", "labels", "ts", "hist")


def _grid_df(ctx: _RCtx):
    """The eval-point grid as a (ts) frame — generated, never a scan."""
    spark = ctx.rel.sparkSession
    n = (ctx.end - ctx.start) // ctx.step + 1
    return spark.range(n).select(
        (F.lit(ctx.start) + F.col("id") * ctx.step).cast("long").alias("ts"))


def _on_grid(df: DataFrame, ctx: _RCtx) -> DataFrame:
    """A grid-constant result (evaluated once at an ``@``-pinned time)
    held at every eval point of ``ctx`` — PromQL's @-modifier constancy:
    a re-stamp on a one-point grid, else a broadcast cross join with the
    generated grid."""
    if ctx.start == ctx.end:
        return df.withColumn("ts", F.lit(ctx.start).cast("long"))
    return df.drop("ts").crossJoin(F.broadcast(_grid_df(ctx)))


def _unpin(node):
    """``node`` without its ``@`` modifier (selectors and subqueries)."""
    if isinstance(node, tuple) and node[0] in ("selector", "subquery"):
        return node[:5] + (None,)
    return node


def _pinned_range_arg(args) -> int | None:
    """The ``@`` time of a call's range-vector argument (a range selector
    or a subquery), or None."""
    for a in args:
        if (isinstance(a, tuple) and a[0] in ("selector", "subquery")
                and (a[0] == "subquery" or a[3] is not None)
                and a[5] is not None):
            return a[5]
    return None


def _fold_scalar_binop(op: str, a: float, b: float) -> float:
    """scalar ∘ scalar, folded in Python with IEEE-754 semantics like Go's
    math package (PromQL's scalar engine): x/0 = ±Inf, 0/0 = NaN,
    fmod(x, 0) = NaN, pow overflow = Inf — Python's operators raise
    instead.  Comparisons yield 1/0."""
    import math

    if op == "/":
        if b != 0:
            return a / b
        if a == 0 or math.isnan(a):
            return math.nan
        return math.copysign(math.inf, a) * math.copysign(1.0, b)
    if op == "%":
        try:
            return math.fmod(a, b)
        except ValueError:
            return math.nan
    if op == "^":
        if a == 0 and b < 0:
            # IEEE pow: -Inf only for a NEGATIVE-zero base raised to a
            # negative odd integer (Go math.Pow); +Inf otherwise.
            if (math.copysign(1.0, a) < 0 and math.isfinite(b)
                    and b == int(b) and int(b) % 2 != 0):
                return -math.inf
            return math.inf
        try:
            return math.pow(a, b)
        except OverflowError:
            return math.inf
        except ValueError:
            return math.nan
    if op == "atan2":
        return math.atan2(a, b)
    fns = {"+": lambda: a + b, "-": lambda: a - b, "*": lambda: a * b,
           "==": lambda: a == b, "!=": lambda: a != b, ">": lambda: a > b,
           "<": lambda: a < b, ">=": lambda: a >= b, "<=": lambda: a <= b}
    return float(fns[op]())


def _fold_scalar_fn(fname: str, x: float) -> float:
    """A ``_SCALAR_FNS`` function of a scalar, folded in Python with
    IEEE semantics (sqrt(-1) = NaN, ln(0) = -Inf — no exceptions)."""
    import numpy as np

    fn = {"ln": np.log, "sgn": np.sign, "asin": np.arcsin, "acos": np.arccos,
          "atan": np.arctan, "asinh": np.arcsinh, "acosh": np.arccosh,
          "atanh": np.arctanh, "deg": np.degrees,
          "rad": np.radians}.get(fname) or getattr(np, fname)
    with np.errstate(all="ignore"):
        return float(fn(np.float64(x)))


def _scalar_param(node, ctx: _RCtx, what: str) -> float:
    """A function or aggregation parameter that must fold to one scalar
    (topk's k, quantile's q, clamp bounds, …)."""
    k, v = _reval(node, ctx)
    if k != "scalar":
        raise PromqlError(f"{what} needs a scalar parameter (got {k})")
    return float(v)


def _reval(node, ctx: _RCtx):
    """Returns ('scalar', float) | ('vector', df(labels, ts, value)) |
    ('hvector', df(series_key, labels, ts, hist)) |
    ('stepscalar', df(ts, value)) — the last is a per-eval-point scalar
    (time() and friends), PromQL's scalar-that-varies-with-t."""
    kind = node[0]
    if kind == "num":
        return ("scalar", node[1])
    if kind == "str":
        raise PromqlError("string literal outside function argument")
    if kind == "unary":
        k, v = _reval(node[2], ctx)
        if k == "scalar":
            return ("scalar", -v)
        if k == "stepscalar":
            return ("stepscalar", v.withColumn("value", -F.col("value")))
        return ("vector", _drop_name(v.withColumn("value", -F.col("value"))))
    if kind == "selector":
        _, name, matchers, range_s, offset_s, at_s = node
        if range_s is not None:
            raise PromqlError(
                f"range selector {name or ''}[{range_s}s] outside a range function")
        if at_s is not None:
            # @-fixed selector: constant across the grid (PromQL) — one
            # evaluation at the pinned point, held at every eval point
            k, v = _reval(_unpin(node), ctx.grid(at_s, at_s, ctx.step))
            return (k, _on_grid(v, ctx))
        if name is not None and name in ctx.hist_metrics:
            from . import native_hist as nh

            hfilt = _matcher_filter(ctx.hist_rel, name, matchers)
            _guard_fanout(ctx.lookback, ctx, f"selector {name}")
            out = nh.grid_hist_instant(hfilt, ctx.start - offset_s,
                                       ctx.end - offset_s, ctx.step,
                                       ctx.lookback)
            return ("hvector", _shift_h(out, offset_s))
        filt = _matcher_filter(ctx.rel, name, matchers)
        _guard_fanout(ctx.lookback, ctx, f"selector {name or ''}")
        out = promql.grid_instant(filt, ctx.start - offset_s,
                                  ctx.end - offset_s, ctx.step, ctx.lookback)
        return ("vector", _strip_r(_shift(out, offset_s)))
    if kind == "call":
        return _reval_call(node, ctx)
    if kind == "agg":
        return _reval_agg(node, ctx)
    if kind == "binop":
        return _reval_binop(node, ctx)
    if kind == "subquery":
        raise PromqlError(
            "a subquery outside a range function is a range vector: at "
            "the top level of a range query is invalid (as in "
            "Prometheus; an instant query returns the matrix)")
    raise PromqlError(f"unhandled node {kind}")


def _guard_fanout(reach_incl: int, ctx: _RCtx, what: str) -> None:
    """Grid fan-out cap (promql.GRID_FANOUT_CAP) as a PromqlError —
    the dashboard-facing form of promql._check_fanout."""
    try:
        promql._check_fanout(reach_incl, ctx.start, ctx.end, ctx.step, what)
    except ValueError as e:
        raise PromqlError(str(e)) from None


def _rsub_points(node, ctx: _RCtx):
    """Subquery inner evaluated ONCE on the aligned fine grid covering
    every outer window (absolute multiples of the subquery step within
    ``(t − offset − range, t − offset]`` for each eval point t) — its rows
    are pseudo-samples the grid primitives consume unchanged, so
    ``rate(expr[r:s])`` / ``<fn>_over_time(expr[r:s])`` cost one inner
    evaluation plus the normal grid pass, never a per-eval-point replay
    of the inner plan.  Returns (kind, pseudo, range_s, offset_s); kind
    "hvector" carries histogram pseudo-samples (labels, ts, hist) for the
    counter-math and over-time callers.  ``@`` on the subquery is
    resolved by the callers (a one-point grid at the pinned time)."""
    _, inner, range_s, step_s, offset_s, _at = node
    lo = -(-(ctx.start - offset_s - range_s + 1) // step_s) * step_s
    hi = ((ctx.end - offset_s) // step_s) * step_s
    if hi < lo:
        return ("vector", ctx.rel.sparkSession.createDataFrame(
            [], "labels map<string,string>, ts long, value double"),
            range_s, offset_s)
    k, v = _reval(inner, ctx.grid(lo, hi, step_s))
    if k == "hvector":
        return "hvector", v.select("labels", "ts", "hist"), range_s, offset_s
    if k != "vector":
        raise PromqlError("subquery inner must be a vector expression")
    return "vector", v.select("labels", "ts", "value"), range_s, offset_s


def _rrange_sel(node, ctx: _RCtx, fname: str):
    """(samples, window, offset) of a float range-vector argument — a
    range selector's matched series, or a subquery's pseudo-samples."""
    if node[0] == "subquery":
        kind, pseudo, range_s, offset_s = _rsub_points(node, ctx)
        if kind == "hvector":
            raise PromqlError(
                f"{fname} over a histogram-valued subquery is not defined "
                "(histogram subqueries support rate/increase/delta)")
        return pseudo, range_s, offset_s
    if node[0] != "selector" or node[3] is None:
        raise PromqlError(f"{fname} needs a range selector argument")
    _, name, matchers, range_s, offset_s, _at = node
    return _matcher_filter(ctx.rel, name, matchers), range_s, offset_s


def _info_matchers(sel):
    """Split ``info()``'s optional second argument (a plain ``{…}``
    selector) into (__name__ matchers, data-label matchers).  No selector
    → the Prometheus default info metric, ``target_info``.  Data-label
    matchers both FILTER the participating info series and RESTRICT the
    copied labels to the named ones (prometheus/promql/info.go)."""
    if sel is None:
        return [(promql.METRIC_NAME_LABEL, "=", "target_info")], []
    if sel[0] != "selector" or sel[3] is not None or sel[5] is not None:
        raise PromqlError(
            "info's second argument must be a plain {…} label selector")
    _, name, matchers, _rng, _off, _at = sel
    name_ms = [m for m in matchers if m[0] == promql.METRIC_NAME_LABEL]
    data_ms = [m for m in matchers if m[0] != promql.METRIC_NAME_LABEL]
    if name is not None:
        name_ms.append((promql.METRIC_NAME_LABEL, "=", name))
    if not name_ms:
        name_ms = [(promql.METRIC_NAME_LABEL, "=", "target_info")]
    return name_ms, data_ms


def _reval_call(node, ctx: _RCtx):
    _, fname, args = node
    at = _pinned_range_arg(args)
    if at is not None:
        # @-fixed range argument (rate(x[5m] @ 1700000000), incl. the
        # resolved @ start()/end() sugar, and expr[r:s] @ t): PromQL
        # evaluates the call once at the pinned time and holds it
        # constant — the call on the one-point grid {at}, held at every
        # eval point, exactly like the @-fixed instant selector.
        k, v = _reval(("call", fname, [_unpin(a) for a in args]),
                      ctx.grid(at, at, ctx.step))
        return (k, _on_grid(v, ctx))
    if fname in ("rate", "increase", "delta") and len(args) == 1 \
            and args[0][0] == "subquery":
        # rate(h[r:s]) on the grid: histogram pseudo-samples from ONE
        # inner grid pass feed grid_hist_rate's step frames; float
        # inners take the same pseudo relation into the float grid
        # lowering — either way the inner plan runs once.
        kind, pseudo, range_s, offset_s = _rsub_points(args[0], ctx)
        _guard_fanout(range_s - 1, ctx, fname)
        if kind == "hvector":
            from . import native_hist as nh

            out = nh.grid_hist_rate(pseudo, ctx.start - offset_s,
                                    ctx.end - offset_s, range_s, ctx.step,
                                    mode=fname)
            return ("hvector", _shift_h(out, offset_s))
        out = promql.grid_rate(pseudo, ctx.start - offset_s,
                               ctx.end - offset_s, range_s, ctx.step,
                               _RANGE_MODES[fname])
        return ("vector", _strip_r(_shift(out, offset_s)))
    if fname in ("rate", "increase", "delta") and len(args) == 1 \
            and args[0][0] == "selector" and args[0][3] is not None \
            and args[0][1] is not None and args[0][1] in ctx.hist_metrics:
        # native-histogram counter math on the grid (histogram-valued)
        from . import native_hist as nh

        _, name, matchers, range_s, offset_s, _at = args[0]
        hfilt = _matcher_filter(ctx.hist_rel, name, matchers)
        _guard_fanout(range_s - 1, ctx, fname)
        out = nh.grid_hist_rate(hfilt, ctx.start - offset_s,
                                ctx.end - offset_s, range_s, ctx.step, fname)
        return ("hvector", _shift_h(out, offset_s))
    if fname in _HIST_SCALAR_FNS:
        (arg,) = args
        k, v = _reval(arg, ctx)
        if k != "hvector":
            raise PromqlError(
                f"{fname} takes a native-histogram vector (got {k}; classic "
                "le-bucket series have no structured sample to read)")
        from . import native_hist as nh

        return ("vector",
                _strip_r(_drop_name(nh.hist_scalar(v, _HIST_SCALAR_FNS[fname]))))
    if fname == "histogram_fraction":
        lo, hi, arg = args
        lov = _scalar_param(lo, ctx, fname)
        hiv = _scalar_param(hi, ctx, fname)
        k, v = _reval(arg, ctx)
        if k != "hvector":
            raise PromqlError("histogram_fraction takes a native-histogram vector")
        from . import native_hist as nh

        return ("vector", _strip_r(_drop_name(nh.hist_fraction(v, lov, hiv))))
    if fname in _RANGE_MODES:
        (arg,) = args
        filt, w, off = _rrange_sel(arg, ctx, fname)
        _guard_fanout(w - 1, ctx, fname)
        out = promql.grid_rate(filt, ctx.start - off, ctx.end - off,
                               w, ctx.step, _RANGE_MODES[fname])
        return ("vector", _strip_r(_shift(out, off)))
    if fname in _OVER_TIME_FNS:
        (arg,) = args
        fn = _OVER_TIME_FNS[fname]
        # histogram-valued windows (VERDICT r10 item 6): a subquery whose
        # inner is histogram-valued, or a native-histogram range selector
        # — avg/sum stay histogram-valued on the grid, count is a float,
        # last the newest sample per eval window
        hsub = None
        if arg[0] == "subquery":
            kind, pseudo, w, off = _rsub_points(arg, ctx)
            if kind == "hvector":
                hsub = pseudo
            else:
                filt = pseudo
        elif (arg[0] == "selector" and arg[3] is not None
              and arg[1] is not None and arg[1] in ctx.hist_metrics):
            _, hname, hmatchers, w, off, _at = arg
            hsub = _matcher_filter(ctx.hist_rel, hname, hmatchers)
        else:
            filt, w, off = _rrange_sel(arg, ctx, fname)
        if hsub is not None:
            from . import native_hist as nh

            if fn not in nh.HIST_OVER_TIME:
                raise PromqlError(
                    f"{fname} is not defined over native-histogram windows "
                    "(supported: avg/sum/count/last/present_over_time)")
            _guard_fanout(w - 1, ctx, fname)
            out = nh.grid_hist_over_time(hsub, ctx.start - off,
                                         ctx.end - off, w, ctx.step, fn)
            if fn in ("count", "present"):
                return ("vector", _strip_r(_shift(out, off)))
            return ("hvector", _shift_h(out, off))
        if promql._fanout(w - 1, ctx.start, ctx.end, ctx.step) \
                > promql.GRID_FANOUT_CAP:
            # window ≫ step: auto-route invertible aggregates to the
            # running-sum sliding lowering (O(grid) per series, no
            # explode factor); everything else fails fast with the
            # alternatives named rather than silently exploding.
            if fn in promql._SLIDING and w % ctx.step == 0:
                out = promql.grid_over_time_sliding(
                    filt, fn, ctx.start - off, ctx.end - off, w, ctx.step)
                return ("vector", _strip_r(_shift(out, off)))
            _guard_fanout(w - 1, ctx, fname)
        out = promql.grid_over_time(filt, fn,
                                    ctx.start - off, ctx.end - off, w, ctx.step)
        return ("vector", _strip_r(_shift(out, off)))
    if fname == "quantile_over_time":
        q, arg = args
        qv = _scalar_param(q, ctx, fname)
        filt, w, off = _rrange_sel(arg, ctx, fname)
        _guard_fanout(w - 1, ctx, fname)
        out = promql.grid_over_time(filt, "quantile", ctx.start - off,
                                    ctx.end - off, w, ctx.step, q=qv)
        return ("vector", _strip_r(_shift(out, off)))
    if fname == "mad_over_time":
        (arg,) = args
        filt, w, off = _rrange_sel(arg, ctx, fname)
        _guard_fanout(w - 1, ctx, fname)
        out = promql.grid_mad(filt, ctx.start - off, ctx.end - off,
                              w, ctx.step)
        return ("vector", _strip_r(_shift(out, off)))
    if fname in ("holt_winters", "double_exponential_smoothing"):
        arg, sfp, tfp = args
        sfv = _scalar_param(sfp, ctx, fname)
        tfv = _scalar_param(tfp, ctx, fname)
        filt, w, off = _rrange_sel(arg, ctx, fname)
        _guard_fanout(w - 1, ctx, fname)
        out = promql.grid_holt_winters(filt, ctx.start - off, ctx.end - off,
                                       w, ctx.step, sfv, tfv)
        return ("vector", _strip_r(_shift(out, off)))
    if fname in ("deriv", "predict_linear"):
        horizon = None
        if fname == "predict_linear":
            arg, hp = args
            horizon = int(_scalar_param(hp, ctx, fname))
        else:
            (arg,) = args
        filt, w, off = _rrange_sel(arg, ctx, fname)
        _guard_fanout(w - 1, ctx, fname)
        out = promql.grid_deriv(filt, ctx.start - off, ctx.end - off, w,
                                ctx.step, horizon)
        return ("vector", _strip_r(_shift(out, off)))
    if fname == "histogram_quantile":
        q, arg = args
        qv = _scalar_param(q, ctx, fname)
        k, v = _reval(arg, ctx)
        if k == "hvector":
            # native path: exponential in-bucket interpolation over the
            # structured sample (incl. rate(h[w]) histogram vectors)
            from . import native_hist as nh

            return ("vector", _strip_r(nh.hist_quantile(v, qv)))
        if k != "vector":
            raise PromqlError("histogram_quantile takes a bucket vector")
        return ("vector", promql.histogram_quantile_vector(
            v, qv, extra_keys=("ts",)))
    if fname == "time":
        grid = _grid_df(ctx)
        return ("stepscalar",
                grid.select("ts", F.col("ts").cast("double").alias("value")))
    if fname == "pi":
        import math
        return ("scalar", math.pi)
    if fname in _SCALAR_FNS:
        (arg,) = args
        k, v = _reval(arg, ctx)
        if k == "scalar":
            return ("scalar", _fold_scalar_fn(fname, v))
        if k == "stepscalar":
            return ("stepscalar", promql.scalar_map(v, fname))
        return ("vector", _drop_name(promql.scalar_map(v, fname)))
    if fname in _CALENDAR_FNS:
        (arg,) = args if args else (None,)
        if arg is None:  # minute() etc == fn(time()): per-eval-point scalar
            grid = _grid_df(ctx)
            ss = grid.select("ts", F.col("ts").cast("double").alias("value"))
            return ("stepscalar", promql.calendar(ss, fname))
        k, v = _reval(arg, ctx)
        if k == "stepscalar":
            return ("stepscalar", promql.calendar(v, fname))
        if k != "vector":
            raise PromqlError(f"{fname} takes a vector (or no argument)")
        return ("vector", _drop_name(promql.calendar(v, fname)))
    if fname in ("clamp", "clamp_min", "clamp_max"):
        k, v = _reval(args[0], ctx)
        if k != "vector":
            raise PromqlError(f"{fname} takes a vector first argument")
        bounds = [_scalar_param(a, ctx, fname) for a in args[1:]]
        if fname == "clamp":
            out = promql.clamp(v, lo=bounds[0], hi=bounds[1])
        elif fname == "clamp_min":
            out = promql.clamp(v, lo=bounds[0])
        else:
            out = promql.clamp(v, hi=bounds[0])
        return ("vector", _drop_name(out))
    if fname == "label_replace":
        arg, dst, repl, src, regex = args
        v = _reval(arg, ctx)[1]
        return ("vector", promql.label_replace(v, dst[1], repl[1], src[1], regex[1]))
    if fname == "label_join":
        arg, dst, sep, *srcs = args
        v = _reval(arg, ctx)[1]
        return ("vector", promql.label_join(v, dst[1], sep[1], [s[1] for s in srcs]))
    if fname == "timestamp":
        (arg,) = args
        if arg[0] != "selector" or arg[3] is not None:
            raise PromqlError("timestamp takes an instant selector")
        # the selector's own lowering (offset, @ included) over samples
        # whose value is their timestamp
        tctx = _RCtx(ctx.rel.withColumn("value", F.col("ts").cast("double")),
                     ctx.start, ctx.end, ctx.step, ctx.lookback)
        return ("vector", _drop_name(_reval(arg, tctx)[1]))
    if fname in ("absent", "absent_over_time"):
        # one {absent: true} row per grid point where the argument yields
        # NO samples: generated grid anti-joined against present points —
        # the grid side never scans data
        (arg,) = args
        if fname == "absent":
            k, v = _reval(arg, ctx)
            if k != "vector":
                raise PromqlError("absent takes a vector")
            present = v.select("ts")
        else:
            filt, w_, off = _rrange_sel(arg, ctx, fname)
            present = _shift(
                promql.grid_over_time(filt, "count", ctx.start - off,
                                      ctx.end - off, w_, ctx.step), off
            ).select("ts")
        missing = _grid_df(ctx).join(present, "ts", "left_anti")
        # the selector's equality matchers label the output, the metric
        # name excluded (Prometheus createLabelsForAbsentFunction)
        lbl = {"absent": "true"}
        if arg[0] == "selector":
            lbl.update({l: val for l, op, val in arg[2]
                        if op == "=" and l != promql.METRIC_NAME_LABEL})
        labels = F.map_from_arrays(
            F.array(*[F.lit(k2) for k2 in lbl]),
            F.array(*[F.lit(v2) for v2 in lbl.values()]))
        return ("vector", missing.select(
            labels.alias("labels"), "ts", F.lit(1.0).alias("value")))
    if fname in _SORT_FNS:
        # range results have a fixed output ordering; eval_instant orders
        # a top-level sort itself
        k, v = _reval(args[0], ctx)
        if k != "vector":
            raise PromqlError(f"{fname} takes a vector")
        return ("vector", v.select("labels", "ts", "value"))
    if fname == "round":
        # PromQL round(v, to=1): nearest multiple of ``to``, ties away
        # from the floor (floor(v/to + 0.5) * to — promql/functions.go
        # funcRound)
        arg, *rest = args
        k, v = _reval(arg, ctx)
        if k != "vector":
            raise PromqlError("round takes a vector first argument")
        to = _scalar_param(rest[0], ctx, fname) if rest else 1.0
        if to <= 0:
            raise PromqlError("round(): to must be positive")
        out = v.withColumn(
            "value", (F.floor(F.col("value") / to + 0.5) * to).cast("double"))
        return ("vector", _drop_name(out).select("labels", "ts", "value"))
    if fname == "scalar":
        # per eval point: the single sample's value, NaN otherwise —
        # a stepscalar joined on ts downstream; the generated grid fills
        # sample-less eval points with NaN (as Prometheus)
        (arg,) = args
        k, v = _reval(arg, ctx)
        if k in ("scalar", "stepscalar"):
            return (k, v)
        per_t = v.groupBy("ts").agg(F.count(F.lit(1)).alias("__n"),
                                    F.first("value").alias("__v"))
        out = _grid_df(ctx).join(per_t, "ts", "left").select(
            "ts",
            F.when(F.col("__n") == 1, F.col("__v"))
            .otherwise(F.lit(float("nan"))).cast("double").alias("value"))
        return ("stepscalar", out)
    if fname == "vector":
        (arg,) = args
        k, v = _reval(arg, ctx)
        if k == "vector":
            return ("vector", v)  # vector(vector) is the identity
        if k == "stepscalar":
            return ("vector", v.select(
                _empty_labels().alias("labels"), "ts",
                F.col("value").cast("double").alias("value")))
        return ("vector", _grid_df(ctx).select(
            _empty_labels().alias("labels"), "ts",
            F.lit(float(v)).alias("value")))
    if fname == "info":
        if len(args) not in (1, 2):
            raise PromqlError("info takes a vector and an optional {…} selector")
        k, v = _reval(args[0], ctx)
        if k != "vector":
            raise PromqlError("info's first argument must be an instant vector")
        name_ms, data_ms = _info_matchers(args[1] if len(args) == 2 else None)
        info_rel = _matcher_filter(ctx.rel, None, name_ms + data_ms)
        info_vec = promql.grid_instant(info_rel, ctx.start, ctx.end,
                                       ctx.step, ctx.lookback)
        out = promql.info_enrich(v, info_vec,
                                 [m[0] for m in data_ms] or None,
                                 join_ts=True)
        return ("vector", _strip_r(out))
    raise PromqlError(f"unsupported function {fname!r} in the text front-end")


def _limit_agg(fname: str, pv: float, v: DataFrame, by, without,
               extra_keys: tuple[str, ...] = ()) -> DataFrame:
    """``limitk(k, v)`` / ``limit_ratio(r, v)`` (Prometheus 3.x
    experimental aggregations): a DETERMINISTIC series subset per group.
    Prometheus picks by a hash of the series so results are stable and
    ``limit_ratio(r)`` ∪ ``limit_ratio(r − 1)`` partitions the input;
    here the hash is xxhash64 of the canonical label JSON — the same
    determinism contract (and the same series survive at every range
    step).  limitk is a per-group row_number over the hash order (window
    bounded by group size); limit_ratio is a pure filter, no shuffle."""
    if by or without:
        gkeys = [promql.canonical_labels_json(
            promql.match_labels(F.col("labels"),
                                list(by) if by else None,
                                list(without) if without else None))]
    else:
        gkeys = [F.lit("")]
    h = F.xxhash64(promql.canonical_labels_json(F.col("labels")))
    if fname == "limitk":
        from pyspark.sql.window import Window as W

        w = W.partitionBy(*gkeys, *[F.col(c) for c in extra_keys]).orderBy(h)
        return (v.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= int(pv)).drop("__rn"))
    u = F.pmod(h, F.lit(2 ** 53)).cast("double") / F.lit(float(2 ** 53))
    keep = (u < pv) if pv >= 0 else (u >= 1.0 + pv)
    return v.filter(keep)


def _reval_agg(node, ctx: _RCtx):
    _, fname, by, without, param, arg = node
    k, v = _reval(arg, ctx)
    if k == "hvector":
        # histogram aggregation: sum / avg (element-wise bucket merge,
        # avg = sum / n) per eval point are the defined operations;
        # Prometheus likewise drops histograms from the other aggregators
        if fname not in ("sum", "avg") or without is not None:
            raise PromqlError(
                f"{fname}{' without' if without is not None else ''} is not "
                "defined over native-histogram vectors (only sum/avg by)")
        from . import native_hist as nh

        return ("hvector", nh.hist_sum_by(v, list(by or []),
                                          mean=(fname == "avg")))
    if k != "vector":
        raise PromqlError(f"{fname} aggregates a vector")
    return _agg_vector(fname, by, without, param, v, ctx)


def _agg_vector(fname, by, without, param, v: DataFrame, ctx: _RCtx):
    """Aggregate an already-evaluated (labels, ts, value) range vector —
    shared by the AST path and callers with externally-produced vectors
    (the tiered range surface)."""
    if fname in ("topk", "bottomk"):
        kv = int(_scalar_param(param, ctx, fname))
        order = (F.col("value").desc() if fname == "topk"
                 else F.col("value").asc())
        from pyspark.sql.window import Window as W
        tie = promql.canonical_labels_json(F.col("labels"))
        parts = [F.col("ts")]
        if by or without:  # k series per (group, eval point), as PromQL
            parts.append(promql.canonical_labels_json(
                promql.match_labels(F.col("labels"),
                                    list(by) if by else None,
                                    list(without) if without else None)))
        w = W.partitionBy(*parts).orderBy(order, tie)
        return ("vector", v.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= kv).drop("__rn"))
    if fname in ("limitk", "limit_ratio"):
        pv = _scalar_param(param, ctx, fname)
        out = _limit_agg(fname, pv, v, by, without, extra_keys=("ts",))
        return ("vector", out.select("labels", "ts", "value"))
    if fname == "count_values":
        if param[0] != "str":
            raise PromqlError('count_values takes ("label", vector)')
        lbl = param[1]
        out = (v.groupBy(F.col("value").cast("string").alias(lbl), "ts")
               .agg(F.count(F.lit(1)).cast("double").alias("value"))
               .select(F.map_from_arrays(
                   F.array(F.lit(lbl)), F.array(F.col(lbl))).alias("labels"),
                   "ts", "value"))
        return ("vector", out)
    if fname == "quantile":
        q = _scalar_param(param, ctx, fname)
        # Range-mode groups are (retained labels, ts) — series cardinality
        # per eval step, unbounded at scale — so both paths run on the
        # grouped rank-probe engine (bit-identical to percentile()).
        if without is not None:
            kept = promql.match_labels(F.col("labels"), None, list(without))
            keyed = v.select(kept.alias("__kl"), "ts", "value").withColumn(
                "__gk", promql.canonical_labels_json(F.col("__kl")))
            out = _sketch.grouped_quantile_cont(
                keyed, ["__gk", "ts"], "value", q, carry=("__kl",))
            return ("vector",
                    out.select(F.col("__kl").alias("labels"), "ts", "value"))
        new_labels = F.map_from_arrays(
            F.array(*[F.lit(n) for n in (by or [])]),
            F.array(*[F.col("labels").getItem(n) for n in (by or [])]))
        keyed = v.select(new_labels.alias("__lbl"), "ts", "value").withColumn(
            "__gk", promql.canonical_labels_json(F.col("__lbl")))
        out = _sketch.grouped_quantile_cont(
            keyed, ["__gk", "ts"], "value", q, carry=("__lbl",))
        return ("vector",
                out.select(F.col("__lbl").alias("labels"), "ts", "value"))
    agg = promql._OVER_TIME[fname]
    if without is not None:
        kept = promql.match_labels(F.col("labels"), None, list(without))
        keyed = v.withColumn("__kl", kept)
        out = (keyed.groupBy(
                   promql.canonical_labels_json(F.col("__kl")).alias("__gk"), "ts")
               .agg(F.any_value("__kl").alias("labels"),
                    agg(F.col("value")).alias("value"))
               .select("labels", "ts", "value"))
        return ("vector", out)
    keys = [F.col("labels").getItem(n).alias(n) for n in (by or [])]
    grouped = v.groupBy(*keys, "ts").agg(agg(F.col("value")).alias("value"))
    new_labels = F.map_from_arrays(
        F.array(*[F.lit(n) for n in (by or [])]),
        F.array(*[F.col(n) for n in (by or [])]))
    return ("vector", grouped.select(new_labels.alias("labels"), "ts", "value"))


def _hist_binop(op, lk, lv, rk, rv, m):
    """Binary operators with a histogram side (PromQL histogram
    arithmetic): h * scalar / h / scalar scale every component;
    h + h / h - h merge element-wise with one-to-one matching on the
    full label sets (metric name dropped).  Everything else is
    undefined over histograms, as in Prometheus.  Both sides match per
    eval point (ts participates in the match)."""
    from . import native_hist as nh

    if m.get("on") or m.get("ignoring") or m.get("group"):
        raise PromqlError(
            "histogram binops support only one-to-one full-label matching")
    if lk == "hvector" and rk == "hvector":
        if op not in ("+", "-"):
            raise PromqlError(f"{op} is not defined between two histograms")
        return ("hvector", nh.hist_add(lv, rv, subtract=(op == "-")))
    vec, scalar, swapped = (lv, rv, False) if lk == "hvector" else (rv, lv, True)
    if (rk if lk == "hvector" else lk) != "scalar":
        raise PromqlError(
            f"{op} between a histogram vector and a float vector is undefined")
    if op == "*":
        out = nh.hist_scale(vec, float(scalar))
    elif op == "/" and not swapped:
        import math

        s = float(scalar)
        # h / 0 follows float semantics (components scale by ±Inf, as
        # x / 0 does on the float path) — eager Python 1.0/s would raise
        # ZeroDivisionError on the driver instead.
        factor = (1.0 / s) if s != 0 else math.copysign(math.inf, s)
        out = nh.hist_scale(vec, factor)
    else:
        raise PromqlError(
            f"{op} between a histogram and a scalar is undefined"
            + (" in this order" if swapped and op == "/" else ""))
    return ("hvector", _drop_name(out))


def _reval_binop(node, ctx: _RCtx):
    _, op, ln, rn, matching = node
    m = dict(matching or {})
    bool_mode = m.pop("bool", False)
    lk, lv = _reval(ln, ctx)
    rk, rv = _reval(rn, ctx)
    if "hvector" in (lk, rk):
        return _hist_binop(op, lk, lv, rk, rv, m)

    if op in _SET and (lk != "vector" or rk != "vector"):
        raise PromqlError(f"{op} needs two vectors")
    if lk == "scalar" and rk == "scalar":
        return ("scalar", _fold_scalar_binop(op, float(lv), float(rv)))

    if "stepscalar" in (lk, rk):
        return _reval_stepscalar_binop(op, lk, lv, rk, rv, bool_mode)

    if op in _SET or (lk == "vector" and rk == "vector"):
        on, ignoring = m.get("on"), m.get("ignoring")
        key = promql.canonical_labels_json(
            promql.match_labels(F.col("labels"), on, ignoring))
        l = lv.withColumn("__mk", key)
        r = rv.withColumn("__mk", key)
        if op in _SET:
            # semi/anti joins never repeat a row, so the probe side needs
            # no distinct (one aggregation and exchange fewer)
            if op == "and":
                out = l.join(r.select("__mk", "ts"), ["__mk", "ts"], "left_semi")
            elif op == "unless":
                out = l.join(r.select("__mk", "ts"), ["__mk", "ts"], "left_anti")
            else:  # or
                extra = r.join(l.select("__mk", "ts"), ["__mk", "ts"], "left_anti")
                out = l.unionByName(extra)
            return ("vector", out.select("labels", "ts", "value"))
        group = m.get("group")

        def _runique(side: DataFrame, what: str) -> DataFrame:
            # Range-mode analogue of promql._unique_side, keyed per eval
            # step: PromQL errors with "found duplicate series for the
            # match group" when a match key is not unique at a timestamp —
            # a plain inner join would instead emit a silent cross product.
            # assert_true folded into value survives column pruning.
            agg = side.groupBy("__mk", "ts").agg(
                F.any_value("labels").alias("labels"),
                F.any_value("value").alias("value"),
                F.count(F.lit(1)).alias("__dup"))
            guard = F.assert_true(
                F.col("__dup") == 1,
                F.lit("promql binop: duplicate series in the "
                      f"{what} match group"))
            return agg.select(
                "__mk", "ts", "labels",
                F.when(guard.isNull(), F.col("value")).alias("value"))

        if group is None:
            l = _runique(l, "left")
            r = _runique(r, "right")
        elif group == "left":
            r = _runique(r, "one")
        else:
            l = _runique(l, "one")
        lsel = l.select(
            "__mk", "ts", F.col("labels").alias("__ll"),
            F.col("value").alias("__lval"))
        rsel = r.select("__mk", "ts", F.col("labels").alias("__rl"),
                        F.col("value").alias("__rval"))
        j = lsel.join(rsel, ["__mk", "ts"])
        if group == "left":
            out_labels = F.map_filter(
                F.col("__ll"), lambda k2, _: k2 != F.lit(promql.METRIC_NAME_LABEL))
        elif group == "right":
            out_labels = F.map_filter(
                F.col("__rl"), lambda k2, _: k2 != F.lit(promql.METRIC_NAME_LABEL))
        else:
            out_labels = promql.match_labels(F.col("__ll"), on, ignoring)
        if group and m.get("include"):
            # group_left(extra)/group_right(extra): copy the listed labels
            # from the "one" side onto the many side's label set
            one = F.col("__rl") if group == "left" else F.col("__ll")
            keep = F.array(*[F.lit(k2) for k2 in m["include"]])
            extra = F.map_filter(one, lambda k2, _: F.array_contains(keep, k2))
            out_labels = F.map_concat(
                F.map_filter(out_labels,
                             lambda k2, _: ~F.array_contains(keep, k2)),
                extra)
        if op in promql._ARITH_OPS:
            val = promql._ARITH_OPS[op](F.col("__lval"), F.col("__rval"))
            return ("vector", j.select(out_labels.alias("labels"), "ts",
                                       val.cast("double").alias("value")))
        cond = promql._CMP_OPS[op](F.col("__lval"), F.col("__rval"))
        if bool_mode:
            return ("vector", j.select(
                out_labels.alias("labels"), "ts",
                F.when(cond, 1.0).otherwise(0.0).alias("value")))
        # filter semantics keep the lhs sample (labels incl. __name__)
        return ("vector", j.filter(cond).select(
            F.col("__ll").alias("labels"), "ts",
            F.col("__lval").alias("value")))

    # scalar ∘ vector — per-row, ts passes through
    vec, scalar, swapped = (lv, rv, False) if lk == "vector" else (rv, lv, True)
    s = F.lit(float(scalar))
    val = F.col("value")
    lhs, rhs = (val, s) if not swapped else (s, val)
    if op in promql._ARITH_OPS:
        out = vec.withColumn("value",
                             promql._ARITH_OPS[op](lhs, rhs).cast("double"))
        return ("vector", _drop_name(out))
    cond = promql._CMP_OPS[op](lhs, rhs)
    if bool_mode:
        out = _drop_name(vec.withColumn(
            "value", F.when(cond, 1.0).otherwise(0.0)))
    else:
        out = vec.filter(cond)
    return ("vector", out)


def _reval_stepscalar_binop(op, lk, lv, rk, rv, bool_mode):
    """Binary ops involving a per-eval-point scalar: combine per grid
    point (join on ts only) — PromQL's scalar semantics applied at every
    t.  With a vector side, VectorscalarBinop rules per step: arithmetic
    drops __name__, plain comparisons filter, bool yields 1/0."""
    if "vector" not in (lk, rk):
        # stepscalar ∘ (scalar | stepscalar) -> stepscalar
        swapped = lk == "scalar"
        if lk == "stepscalar" and rk == "stepscalar":
            j = (lv.withColumnRenamed("value", "__l")
                 .join(rv.withColumnRenamed("value", "__r"), "ts"))
            lhs, rhs = F.col("__l"), F.col("__r")
        else:
            ss, const = (lv, rv) if lk == "stepscalar" else (rv, lv)
            j = ss.withColumnRenamed("value", "__l")
            lhs, rhs = F.col("__l"), F.lit(float(const))
            if swapped:
                lhs, rhs = rhs, lhs
        if op in promql._ARITH_OPS:
            val = promql._ARITH_OPS[op](lhs, rhs)
        else:
            cond = promql._CMP_OPS[op](lhs, rhs)
            if not bool_mode:
                # comparison on scalars filters nothing; PromQL requires
                # bool for scalar comparisons
                raise PromqlError(
                    f"comparisons between scalars must use bool ({op})")
            val = F.when(cond, 1.0).otherwise(0.0)
        return ("stepscalar",
                j.select("ts", val.cast("double").alias("value")))
    # stepscalar ∘ vector (either order): join the scalar to each series row
    vec, ss, swapped = (lv, rv, False) if lk == "vector" else (rv, lv, True)
    j = vec.join(ss.withColumnRenamed("value", "__sv"), "ts")
    val, sv = F.col("value"), F.col("__sv")
    lhs, rhs = (val, sv) if not swapped else (sv, val)
    if op in promql._ARITH_OPS:
        out = j.withColumn(
            "value", promql._ARITH_OPS[op](lhs, rhs).cast("double"))
        return ("vector", _drop_name(out).select("labels", "ts", "value"))
    cond = promql._CMP_OPS[op](lhs, rhs)
    if bool_mode:
        out = _drop_name(
            j.withColumn("value", F.when(cond, 1.0).otherwise(0.0)))
    else:
        out = j.filter(cond)
    return ("vector", out.select("labels", "ts", "value"))


def _result(k, v, ctx: _RCtx) -> DataFrame:
    """An evaluated expression as the result frame: (labels, ts, value),
    or (labels, ts, hist) when histogram-valued; a scalar becomes one
    labels-less row per eval point."""
    if k == "hvector":
        return v.select("labels", F.col("ts").cast("long").alias("ts"), "hist")
    if k == "scalar":
        return _grid_df(ctx).select(_empty_labels().alias("labels"), "ts",
                                    F.lit(float(v)).alias("value"))
    if k == "stepscalar":
        return v.select(_empty_labels().alias("labels"),
                        F.col("ts").cast("long").alias("ts"),
                        F.col("value").cast("double").alias("value"))
    return _strip_r(v)


def eval_range(rel: DataFrame, query, start: int, end: int, step: int,
               lookback: int = 300,
               hist_rel: DataFrame | None = None,
               hist_metrics: "set[str] | None" = None) -> DataFrame:
    """Evaluate ``query`` (text or AST) as a PromQL RANGE query: the
    expression at every eval point t = start + k·step ≤ end.  Returns
    (labels, ts, value) — one row per series per grid point; a scalar
    expression becomes one labels-less row per grid point, and ``time()``
    / argless calendar functions are per-eval-point scalars combinable
    with vectors (join on ts).  ``sort``/``sort_desc``/``sort_by_label*``
    are accepted as pass-throughs (Prometheus: they only affect instant
    query results); ``@``-fixed selectors and subqueries — including the
    ``start()``/``end()`` sugar — evaluate once at the pinned time and
    hold constant across the grid.  Subqueries lower as pseudo-samples
    (one fine-grid inner evaluation feeding the normal grid pass — any
    inner expression), including HISTOGRAM-valued inners under
    rate/increase/delta AND the avg/sum/count/last over-time aggregates
    (``avg_over_time(rate(h[5m:1m])[30m:5m])`` is a second grid pass over
    the same pseudo-samples).  A bare subquery at the top level raises
    ``PromqlError`` (a range-vector result — invalid in Prometheus range
    queries too).

    ``hist_rel`` enables NATIVE-HISTOGRAM selectors on the grid (see
    :func:`eval_instant`); a top-level histogram result returns
    (labels, ts, hist) rows."""
    if step <= 0:
        raise PromqlError("step must be positive")
    node = parse(query) if isinstance(query, str) else query
    node = resolve_at(node, start, end)
    ctx = _RCtx(rel, start, end, step, lookback,
                hist_rel=hist_rel, hist_metrics=hist_metrics)
    return _result(*_reval(node, ctx), ctx)


def eval_instant(rel: DataFrame, query, at_ts: int,
                 lookback: int = 300,
                 hist_rel: DataFrame | None = None,
                 hist_metrics: "set[str] | None" = None) -> DataFrame:
    """Evaluate ``query`` (text, or a pre-parsed AST) as a PromQL instant
    query at ``at_ts`` over a relation with (labels map, ts, value)
    columns: the range evaluator on the one-point grid ``{at_ts}`` (as
    Prometheus runs instant queries), so the answer equals the last point
    of any :func:`eval_range` ending at ``at_ts``.  Returns the result
    vector as (labels, value); a scalar result becomes a single
    labels-less row; a top-level ``sort``/``sort_desc``/
    ``sort_by_label*`` orders the rows.  A TOP-LEVEL range selector or
    subquery returns the Prometheus "matrix" result type as (labels, ts,
    value) rows — (labels, ts, hist) when histogram-valued: the raw
    samples in ``(t − range, t]``, or the subquery's aligned points.

    ``hist_rel`` (labels, ts, hist) enables NATIVE-HISTOGRAM selectors:
    metric names present in it resolve to structured histogram samples,
    so ``histogram_quantile(0.9, rate(h[5m]))``,
    ``histogram_count/sum/avg/stddev/stdvar`` and ``histogram_fraction``
    evaluate on the native path (functions/native_hist.py).  A TOP-LEVEL
    histogram result returns (labels, ts, hist) rows (ts = ``at_ts``)
    instead of a value column — the structured sample IS the result, as
    in the Prometheus HTTP API's histogram payloads."""
    node = parse(query) if isinstance(query, str) else query
    node = resolve_at(node, at_ts, at_ts)
    ctx = _RCtx(rel, at_ts, at_ts, 1, lookback, hist_rel=hist_rel,
                hist_metrics=hist_metrics)
    if node[0] == "selector" and node[3] is not None:
        _, name, matchers, range_s, offset_s, at_s = node
        end = (at_s if at_s is not None else at_ts) - offset_s
        start = end - range_s + 1
        if name is not None and name in ctx.hist_metrics:
            hfilt = _matcher_filter(ctx.hist_rel, name, matchers)
            return hfilt.filter(F.col("ts").between(start, end)).select(
                "labels", F.col("ts").cast("long").alias("ts"), "hist")
        filt = _matcher_filter(rel, name, matchers)
        return filt.filter(F.col("ts").between(start, end)).select(
            "labels", F.col("ts").cast("long").alias("ts"), "value")
    if node[0] == "subquery":
        if node[5] is not None:
            ctx = ctx.grid(node[5], node[5], ctx.step)
        k, pseudo, _r, _o = _rsub_points(node, ctx)
        return pseudo.select("labels", F.col("ts").cast("long").alias("ts"),
                             "hist" if k == "hvector" else "value")
    k, v = _reval(node, ctx)
    if k == "hvector":
        return _result(k, v, ctx)
    out = (v if k == "vector" else _result(k, v, ctx)).select(
        "labels", F.col("value").cast("double").alias("value"))
    if node[0] == "call" and node[1] in _SORT_FNS:
        fname, args = node[1], node[2]
        if fname in ("sort", "sort_desc"):
            return out.orderBy(F.col("value").asc() if fname == "sort"
                               else F.col("value").desc())
        out = promql.sort_by_label(promql._ensure_series_key(out),
                                   [l[1] for l in args[1:]],
                                   desc=fname.endswith("desc"))
        return out.select("labels", "value")
    return out


def _api_hist(h) -> dict:
    """Prometheus HTTP-API histogram object (result-formats spec for
    native histograms): stringified count/sum plus value-ascending
    ``[boundary_rule, "lower", "upper", "count"]`` buckets — rule 1
    (open right) for negative exponential buckets, 3 (closed both) for
    the zero bucket, 0 (open left) for positive exponential buckets."""
    scale = 2.0 ** h["schema"]
    buckets = []
    for i, c in sorted((h["neg"] or {}).items(), reverse=True):
        lo, hi = -(2.0 ** (i / scale)), -(2.0 ** ((i - 1) / scale))
        buckets.append([1, _fmt_val(lo), _fmt_val(hi), _fmt_val(c)])
    if h["zero_count"]:
        zt = h["zero_threshold"]
        buckets.append([3, _fmt_val(-zt), _fmt_val(zt), _fmt_val(h["zero_count"])])
    for i, c in sorted((h["pos"] or {}).items()):
        lo, hi = 2.0 ** ((i - 1) / scale), 2.0 ** (i / scale)
        buckets.append([0, _fmt_val(lo), _fmt_val(hi), _fmt_val(c)])
    return {"count": _fmt_val(h["count"]), "sum": _fmt_val(h["sum"]),
            "buckets": buckets}


def to_api_vector(df: DataFrame, at_ts: int | None = None) -> dict:
    """Shape an instant-query result as the Prometheus HTTP API payload
    (``/api/v1/query`` data object: resultType "vector", values as
    [ts, "str"] pairs) so existing Prometheus client tooling consumes it
    verbatim.  A histogram-valued result (``hist`` column — top-level
    native-histogram expressions) renders each sample as the API's
    ``histogram`` object instead of ``value``.  Driver-side by definition
    — this is the client response; bound the input with topk/filters
    first."""
    has_hist = "hist" in df.columns
    rows = df.collect()
    out = []
    for r in rows:
        ts = at_ts if at_ts is not None else r["ts"] if "ts" in r.__fields__ else 0
        if has_hist:
            out.append({"metric": dict(r["labels"]),
                        "histogram": [int(ts), _api_hist(r["hist"])]})
        else:
            out.append({"metric": dict(r["labels"]),
                        "value": [int(ts), _fmt_val(r["value"])]})
    return {"resultType": "vector", "result": out}


def to_api_matrix(df: DataFrame) -> dict:
    """Shape a range-query result (labels, ts, value) as the Prometheus
    ``/api/v1/query_range`` data object: resultType "matrix", one series
    entry per label set with its [ts, "str"] value list sorted by ts.
    Histogram-valued results carry ``histograms`` lists of
    [ts, histogram-object] pairs, per the native-histogram API spec."""
    from collections import defaultdict

    has_hist = "hist" in df.columns
    series: dict = defaultdict(list)
    metas: dict = {}
    for r in df.collect():
        key = tuple(sorted(r["labels"].items()))
        metas[key] = dict(r["labels"])
        val = _api_hist(r["hist"]) if has_hist else _fmt_val(r["value"])
        series[key].append((int(r["ts"]), val))
    field = "histograms" if has_hist else "values"
    return {
        "resultType": "matrix",
        "result": [
            {"metric": metas[k], field: sorted(vs, key=lambda p: p[0])}
            for k, vs in sorted(series.items())
        ],
    }


def to_api_series(df: DataFrame) -> list[dict]:
    """``/api/v1/series`` data payload over ``TSDB.query_series`` output:
    one label-set object per matched series, sorted by canonical label
    items for a deterministic response.  Driver-side by definition (this
    IS the client response); the distinct ran distributed upstream."""
    rows = df.collect()
    return [dict(k) for k in
            sorted(tuple(sorted(r["labels"].items())) for r in rows)]


def to_api_labels(df: DataFrame) -> list[str]:
    """``/api/v1/labels`` data payload: sorted distinct label NAMES across
    the matched series (input: ``TSDB.query_series`` output).  The
    distinct runs distributed (explode over map keys); only the final
    name list is collected."""
    rows = (df.select(F.explode(F.map_keys(F.col("labels"))).alias("n"))
            .distinct().orderBy("n").collect())
    return [r["n"] for r in rows]


def to_api_label_values(df: DataFrame) -> list[str]:
    """``/api/v1/label/<name>/values`` data payload over
    ``TSDB.query_label_values`` output (already distinct + sorted
    distributed): the bare value list."""
    return [r["value"] for r in df.collect()]


def to_api_exemplars(df: DataFrame) -> list[dict]:
    """``/api/v1/query_exemplars`` data payload over
    ``TSDB.query_exemplars`` output: one object per series —
    ``seriesLabels`` plus its ts-sorted ``exemplars`` list, each exemplar
    carrying its own ``labels`` (trace ids), Prometheus-formatted
    ``value`` string and numeric ``timestamp`` (seconds).  Series sorted
    by canonical label items for a deterministic response; the grouping
    ran distributed upstream (sources/exemplar_store.group_exemplars)."""
    rows = df.collect()
    out = []
    for r in rows:
        out.append({
            "seriesLabels": dict(r["labels"]),
            "exemplars": [
                {"labels": dict(e["labels"] or {}),
                 "value": _fmt_val(e["value"]),
                 "timestamp": int(e["ts"])}
                for e in r["exemplars"]
            ],
        })
    out.sort(key=lambda s: tuple(sorted(s["seriesLabels"].items())))
    return out


def api_success(data) -> dict:
    """The Prometheus HTTP-API response envelope
    (``{"status": "success", "data": ...}``) around any of the payload
    shapers — the verbatim wire shape clients parse."""
    return {"status": "success", "data": data}


def _fmt_val(v) -> str:
    f = float(v)
    if f != f:
        return "NaN"
    if f in (float("inf"), float("-inf")):
        return "+Inf" if f > 0 else "-Inf"
    return repr(int(f)) if f.is_integer() and abs(f) < 2**53 else repr(f)


def eval_alerts(rel: DataFrame, query, for_duration: int, start: int,
                end: int, step: int, lookback: int = 300) -> DataFrame:
    """Prometheus ALERTING-rule evaluation: the expression is evaluated on
    the [start, end] grid (``eval_range``); a series is ACTIVE at every
    eval point where the expression returns a sample for it (PromQL alert
    semantics — comparisons FILTER, so ``expr > bound`` yields presence),
    and FIRING once it has been active continuously for ``for_duration``
    — see :func:`alert_runs`."""
    return alert_runs(eval_range(rel, query, start, end, step, lookback),
                      for_duration, step)


def mark_runs(df: DataFrame, step: int) -> DataFrame:
    """Number each series' activation runs: ``df`` holds one row per
    (series key ``__k``, eval point ``ts``) where the series is active;
    the result adds ``__run``, which counts the runs so far — a run
    starts at a series' first point and after every gap wider than
    ``step``.  Gaps-and-islands over one window partitioned by the
    series, so state is bounded by that series' grid rows, never global.
    Shared by :func:`alert_runs` and the streaming
    ``AlertRuleMaintainer``."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("__k").orderBy("ts")
    return (
        df.withColumn("__prev", F.lag("ts").over(w))
        .withColumn(
            "__new",
            (F.col("__prev").isNull()
             | (F.col("ts") - F.col("__prev") > step)).cast("int"))
        .withColumn("__run", F.sum("__new").over(
            w.rowsBetween(W.unboundedPreceding, 0)))
    )


def alert_runs(grid: DataFrame, for_duration: int, step: int) -> DataFrame:
    """One row per activation run of an evaluated rule ``grid`` (the
    ``(labels, ts, …)`` output of a range evaluation): ``(labels,
    active_since, last_active, n_evals, firing, firing_since)`` with
    ``firing_since = active_since + for_duration`` (null while only
    pending), mirroring the sample-level
    ``operators.tsdb_ops.alert_intervals`` contract on the rule grid."""
    g = grid.withColumn("__k", promql.canonical_labels_json(F.col("labels")))
    runs = mark_runs(g, step).groupBy("__k", "__run").agg(
        F.any_value("labels").alias("labels"),
        F.min("ts").alias("active_since"),
        F.max("ts").alias("last_active"),
        F.count(F.lit(1)).alias("n_evals"),
    )
    firing = (F.col("last_active") - F.col("active_since")
              >= F.lit(int(for_duration)))
    return runs.select(
        "labels", "active_since", "last_active", "n_evals",
        firing.alias("firing"),
        F.when(firing, F.col("active_since") + F.lit(int(for_duration)))
        .alias("firing_since"),
    )
