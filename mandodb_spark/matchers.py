"""Label matchers — the engine's query predicate surface.

Mirrors the reference's ``LabelMatcher`` / ``LabelMatcherSet``
(label.go:282-290): a matcher is ``(name, value, is_regex)``; a matcher set
is a conjunction across names (index.go:111-143), and a regex matcher is a
disjunction across the values it matches (index.go:117-127).

Semantics preserved exactly:
- Regex matchers are fully anchored: ``^(?:expr)$`` (label.go:88), while
  Spark's ``RLIKE`` is an unanchored search — so the pattern is wrapped here.
- Matcher sanitation (label.go:305-319): empty name/value dropped, first
  occurrence of a duplicated name wins.
- Metric-name injection (label.go:292-303): the metric argument of a query
  becomes an ordinary equality matcher on ``__name__``.

The one optimizer idea worth porting (SURVEY.md §4): the reference's regex
fast path (label.go:80-163, from Prometheus) extracts literal
prefix/suffix/contains from a pattern and checks those cheap predicates
before the full regex.  Catalyst rewrites ``LIKE`` patterns but not
``RLIKE``, so we do the rewrite at query-build time, in Python, producing:
- a plain equality for fully-literal patterns (pushable to Parquet),
- ``startswith/endswith/contains`` conjuncts ANDed with the anchored RLIKE
  for prefix/suffix/contains shapes (the literal conjunct is pushable and
  prunes row groups; the RLIKE keeps exact semantics).

This is deliberately a query-builder rewrite, not a Catalyst extension —
it composes with predicate pushdown and costs nothing at plan time.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from .model import METRIC_NAME_LABEL

#: Characters with no special meaning in a (Java/RE2) regex.
_LITERAL_RE = re.compile(r"\A[A-Za-z0-9_\-:, /]*\Z")


@dataclass(frozen=True)
class LabelMatcher:
    """One predicate: ``{name <op> "value"}`` (label.go:282-290).

    ``is_present`` extends the reference surface with an explicit
    label-presence check (``LabelSet.Has``, label.go:253-262, which the
    reference only uses internally): value is ignored, the label merely
    has to exist.
    """

    name: str
    value: str = ""
    is_regex: bool = False
    is_present: bool = False


def sanitize(matchers: list[LabelMatcher]) -> list[LabelMatcher]:
    """Drop empty-name/value matchers; first duplicate name wins.

    Mirrors ``LabelMatcherSet.filter()`` (label.go:305-319).
    """
    seen: set[str] = set()
    out: list[LabelMatcher] = []
    for m in matchers:
        if not m.name or (not m.value and not m.is_present) or m.name in seen:
            continue
        seen.add(m.name)
        out.append(m)
    return out


def add_metric_name(metric: str | None, matchers: list[LabelMatcher]) -> list[LabelMatcher]:
    """Prepend the ``__name__`` equality matcher (label.go:292-303)."""
    out = list(matchers)
    if metric:
        out.insert(0, LabelMatcher(METRIC_NAME_LABEL, metric, is_regex=False))
    return sanitize(out)


def _literal_parts(pattern: str) -> tuple[str | None, str | None, str | None]:
    """Extract (prefix, suffix, contains) literals from a regex pattern.

    The idea of ``optimizeConcatRegex`` (label.go:123-163): a pattern of the
    shape ``lit1.*lit2.*lit3`` admits cheap literal pre-checks.  We handle
    the common shapes conservatively — anything unrecognized returns all
    Nones and falls back to the full regex alone.
    """
    if not pattern:
        return None, None, None
    chunks = pattern.split(".*")
    if any(not _LITERAL_RE.match(c) for c in chunks):
        # Some chunk still contains regex metacharacters — no fast path.
        return None, None, None
    prefix = chunks[0] or None
    suffix = chunks[-1] if len(chunks) > 1 and chunks[-1] else None
    contains = None
    if len(chunks) > 2:
        mid = [c for c in chunks[1:-1] if c]
        contains = mid[0] if mid else None
    return prefix, suffix, contains


def regex_predicate(col: Column, pattern: str) -> Column:
    """Anchored regex predicate with the literal fast path.

    Equivalent to the reference's ``fastRegexMatcher.MatchString``
    (label.go:103-121): literal pre-checks short-circuit, the anchored
    regex decides.  Fully-literal patterns collapse to equality
    (label.go:166-171's equality branch reached via the matcher).

    The pattern is validated at build time (the reference compiles it in
    ``newFastRegexMatcher``, label.go:85-92) — a malformed pattern raises
    here, in the driver, instead of failing tasks on executors.
    """
    if _LITERAL_RE.match(pattern):
        return col == F.lit(pattern)
    try:
        re.compile(pattern)
    except re.error as exc:
        raise ValueError(f"invalid regex matcher pattern {pattern!r}: {exc}") from exc
    anchored = col.rlike(f"^(?:{pattern})$")
    if pattern.endswith(".*") or pattern.endswith(".+"):
        # Open-ended tail: prefix check alone is pushable and often decisive.
        prefix, _, _ = _literal_parts(pattern[:-2] + ".*")
        if prefix:
            return col.startswith(prefix) & anchored
        return anchored
    prefix, suffix, contains = _literal_parts(pattern)
    pred = anchored
    if suffix:
        pred = col.endswith(suffix) & pred
    if prefix:
        pred = col.startswith(prefix) & pred
    if contains:
        pred = col.contains(contains) & pred
    return pred


def _value_predicate(v: Column, m: LabelMatcher) -> Column:
    """The matcher's test over an already-extracted label value column."""
    if m.is_present:
        return v.isNotNull()
    if m.is_regex:
        return v.isNotNull() & regex_predicate(v, m.value)
    return v.isNotNull() & (v == F.lit(m.value))


def matcher_predicate(labels: Column, m: LabelMatcher) -> Column:
    """One matcher → one boolean Column over the ``labels`` map.

    Equality branch mirrors label.go:182-183 (verbatim value), regex branch
    mirrors label.go:171-180 (anchored match).  NULL-safe: a missing label
    never matches (the reference only indexes present labels).
    """
    return _value_predicate(labels.getItem(m.name), m)


def matchers_predicate(labels: Column, matchers: list[LabelMatcher]) -> Column:
    """Conjunction across matchers (index.go:111-143's sid intersection).

    The AND of per-matcher predicates is the declarative form of the
    reference's sid-set intersection; Catalyst short-circuits and pushes
    the pushable conjuncts to the Parquet scan.
    """
    pred = F.lit(True)
    for m in sanitize(matchers):
        pred = pred & matcher_predicate(labels, m)
    return pred
