"""Label semantics: canonical signatures, series ids, matcher predicates.

The reference's series identity is its full label set, canonically
serialized sorted-by-key as ``k1=v1,k2=v2,...``
(/root/reference/src/indexer/sled_indexer.rs:275-289, golden test at
:197-205) and used as the exact-lookup key
(/root/reference/src/indexer/sled_indexer.rs:98-107). Queries use
*superset* semantics: a series matches iff its label set contains every
matcher pair (/root/reference/src/indexer/common.rs:13-21, verified by
/root/reference/tests/test_chunk.rs:45-57).

Divergences (documented in SURVEY.md §7.4):
- The reference corrupts signatures when label values contain ``,`` or
  ``=`` (/root/reference/src/indexer/sled_indexer.rs:291-319). We
  escape ``\\``, ``,`` and ``=`` with a backslash, so the signature is
  injective.
- Chunk-local AtomicU64 ids (/root/reference/src/chunk/chunk.rs:94) are
  replaced by a content hash (xxhash64 of the signature): stable across
  partitions/executors and idempotent under concurrent ingest — the
  get-or-create critical section disappears.

Everything here is a Column expression (JVM-side, codegen'd); no
Python UDFs on the ingest or query hot path.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Ingest-row shape: the Spark mapping of one (labels, sample) pair from a
# Prometheus WriteRequest (/root/reference/src/proto/remote.rs:31-40).
SAMPLES_SCHEMA = T.StructType(
    [
        T.StructField("labels", T.MapType(T.StringType(), T.StringType()), False),
        T.StructField("timestamp", T.LongType(), False),  # unix ms (src/lib.rs:27)
        T.StructField("value", T.DoubleType(), False),  # f64 (src/lib.rs:28)
    ]
)

# Matcher types from the Prometheus proto
# (/root/reference/src/proto/types.rs:1184-1189). The reference drops
# everything to EQ (/root/reference/src/common/label.rs:19-24); we
# implement all four as a flagged extension (SURVEY.md §7.2 M4).
EQ = "EQ"
NEQ = "NEQ"
RE = "RE"
NRE = "NRE"


def _escape(col: Column) -> Column:
    # Backslash first so escape characters are not double-escaped.
    col = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    col = F.replace(col, F.lit(","), F.lit("\\,"))
    return F.replace(col, F.lit("="), F.lit("\\="))


def _escape_str(s: str) -> str:
    # Driver-side twin of _escape, same order
    return s.replace("\\", "\\\\").replace(",", "\\,").replace("=", "\\=")


def sql_str_lit(s: str) -> str:
    """A Spark-SQL single-quoted string literal for ``s`` (backslash
    escaping — the default parser mode get_spark runs under)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _escape_sql(e: str) -> str:
    # SQL-text twin of _escape (backslash first, then , and =)
    return (
        "replace(replace(replace(" + e +
        ", '\\\\', '\\\\\\\\'), ',', '\\\\,'), '=', '\\\\=')"
    )


def signature_sql_text(map_sql: str = "labels") -> str:
    """SQL text of the canonical signature over an arbitrary map-typed
    SQL expression. Building the expression as ONE parsed string costs
    one py4j round-trip where the Column-by-Column construction costs
    ~85 ms of socket chatter per call (the §7.3 driver-time trap) —
    the parsed tree is expression-identical, so results and plans do
    not change."""
    return (
        "array_join(transform(array_sort(map_entries(" + map_sql + ")), "
        "e -> concat(" + _escape_sql("e.key") + ", '=', "
        + _escape_sql("e.value") + ")), ',')"
    )


def signature_expr(labels: Column | str = "labels") -> Column:
    """Canonical signature of a label map: sorted ``k=v`` joined by ``,``.

    Mirrors encode_labels (/root/reference/src/indexer/sled_indexer.rs:275-289)
    minus the storage-key prefix, plus escaping (see module docstring).
    A string argument is a column name (the hot path — parsed as one
    SQL expression); a Column argument takes the composed construction.
    """
    if isinstance(labels, str):
        return F.expr(signature_sql_text(f"`{labels}`"))
    entries = F.array_sort(F.map_entries(labels))  # struct<key,value>; keys unique → sorts by key
    return F.array_join(
        F.transform(entries, lambda e: F.concat(_escape(e["key"]), F.lit("="), _escape(e["value"]))),
        ",",
    )


def series_id_expr(labels: Column | str = "labels") -> Column:
    """Stable 64-bit series id: xxhash64 of the canonical signature."""
    return F.xxhash64(signature_expr(labels))


def signature_sql(pairs: list[tuple[str, str]], dialect: str = "duckdb") -> str:
    """ANSI-SQL signature builder for oracle parity checks.

    ``pairs`` is ``[(label_key, sql_expr_for_value), ...]``; keys must be
    literal strings. Produces the same escaped ``k=v,...`` string the
    Spark expression yields, for DuckDB to evaluate on the raw tables.
    """

    def esc_sql(e: str) -> str:
        out = f"replace({e}, '\\', '\\\\')"
        out = f"replace({out}, ',', '\\,')"
        return f"replace({out}, '=', '\\=')"

    parts = [f"'{_escape_str(k)}=' || {esc_sql(v)}" for k, v in sorted(pairs)]
    return " || ',' || ".join(parts)


def label_value(labels: Column | str, key: str) -> Column:
    """Null-safe map lookup (ANSI-proof: missing key → NULL, not error)."""
    labels = F.col(labels) if isinstance(labels, str) else labels
    return F.try_element_at(labels, F.lit(key))


def superset_predicate(labels: Column | str, matchers: dict[str, str]) -> Column:
    """J4 contains-all-labels semantics: labels ⊇ matchers.

    The AND of per-label equality lookups — Catalyst folds this into one
    scan, replacing the reference's posting-list k-way sorted
    intersection (/root/reference/src/common/utils.rs:56-128).
    An empty matcher set matches every series.
    """
    pred = F.lit(True)
    for k, v in matchers.items():
        pred = pred & (label_value(labels, k) == F.lit(v))
    return pred


@dataclass(frozen=True)
class LabelMatcher:
    """One Prometheus label matcher (name, type, value)."""

    name: str
    value: str
    type: str = EQ  # EQ | NEQ | RE | NRE


def matcher_predicate(labels: Column | str, matchers: list["LabelMatcher"]) -> Column:
    """Full Prometheus matcher semantics (extension beyond the reference).

    - EQ: label present and equal.
    - NEQ: label absent or not equal (Prometheus treats a missing label
      as the empty string).
    - RE / NRE: fully-anchored regex on the label value ('' if absent).
    """
    if not matchers:
        return F.lit(True)
    if isinstance(labels, str):
        # hot path: the whole conjunction as ONE parsed SQL expression
        # (one py4j round-trip instead of ~6 per matcher — §7.3)
        parts = []
        for m in matchers:
            val = (f"coalesce(try_element_at(`{labels}`, "
                   f"{sql_str_lit(m.name)}), '')")
            pat = sql_str_lit(f"^(?:{m.value})$")
            if m.type == EQ:
                parts.append(f"{val} = {sql_str_lit(m.value)}")
            elif m.type == NEQ:
                parts.append(f"{val} != {sql_str_lit(m.value)}")
            elif m.type == RE:
                parts.append(f"{val} RLIKE {pat}")
            elif m.type == NRE:
                parts.append(f"NOT ({val} RLIKE {pat})")
            else:  # pragma: no cover
                raise ValueError(f"unknown matcher type {m.type!r}")
        return F.expr("(" + ") AND (".join(parts) + ")")
    pred = F.lit(True)
    for m in matchers:
        val = F.coalesce(label_value(labels, m.name), F.lit(""))
        if m.type == EQ:
            p = val == F.lit(m.value)
        elif m.type == NEQ:
            p = val != F.lit(m.value)
        elif m.type == RE:
            p = val.rlike(f"^(?:{m.value})$")
        elif m.type == NRE:
            p = ~val.rlike(f"^(?:{m.value})$")
        else:  # pragma: no cover
            raise ValueError(f"unknown matcher type {m.type!r}")
        pred = pred & p
    return pred


def exact_signature_predicate(labels: Column | str, full_labels: dict[str, str]) -> Column:
    """J5 exact label-set lookup: the whole (sorted, escaped) signature
    must equal the query's (/root/reference/src/indexer/sled_indexer.rs:98-107)."""
    return signature_expr(labels) == F.lit(python_signature(full_labels))


def python_signature(labels: dict[str, str]) -> str:
    """Driver-side twin of signature_expr, for tests and point lookups."""
    return ",".join(
        f"{_escape_str(k)}={_escape_str(v)}" for k, v in sorted(labels.items())
    )


def regex_literal_set(pattern: str, cap: int = 64) -> set[str] | None:
    """The finite set of strings an ANCHORED regex matches, or None if
    the pattern isn't a pure literal alternation (Prometheus's
    FastRegexMatcher "set matches" analysis, from the public
    prometheus/common regexp optimization — re-derived, not ported).

    Handles literals, ``|`` alternation, ``(...)`` / ``(?:...)``
    groups (arbitrarily nested, concatenation = cross product), and
    single-character escapes of regex metachars (``\\.`` etc.). Any
    quantifier, class, dot, anchor or backreference → None, as does an
    expansion larger than ``cap`` (past that, postings stop being
    cheaper than a scan). Matchers use fully-anchored semantics
    (``^(?:pat)$``), so the set is exact, not a prefix heuristic.
    """
    METACHARS = set(".^$*+?{}[]|()\\")

    def parse_alt(i: int) -> tuple[set[str], int] | None:
        branches: set[str] = set()
        cur = parse_concat(i)
        if cur is None:
            return None
        vals, i = cur
        branches |= vals
        while i < len(pattern) and pattern[i] == "|":
            cur = parse_concat(i + 1)
            if cur is None:
                return None
            vals, i = cur
            branches |= vals
            if len(branches) > cap:
                return None
        return branches, i

    def parse_concat(i: int) -> tuple[set[str], int] | None:
        parts: set[str] = {""}
        while i < len(pattern) and pattern[i] not in "|)":
            c = pattern[i]
            if c == "(":
                j = i + 1
                if pattern.startswith("?:", j):
                    j += 2
                elif pattern.startswith("?", j):
                    return None  # lookarounds, named groups, flags
                sub = parse_alt(j)
                if sub is None:
                    return None
                vals, j = sub
                if j >= len(pattern) or pattern[j] != ")":
                    return None
                i = j + 1
            elif c == "\\":
                if i + 1 >= len(pattern):
                    return None
                nxt = pattern[i + 1]
                if nxt not in METACHARS:
                    return None  # \d, \w, \b... are classes/anchors
                vals = {nxt}
                i += 2
            elif c in METACHARS:
                return None  # quantifier/class/dot/anchor
            else:
                vals = {c}
                i += 1
            # a quantifier after ANY atom breaks literalness
            if i < len(pattern) and pattern[i] in "*+?{":
                return None
            parts = {a + b for a in parts for b in vals}
            if len(parts) > cap:
                return None
        return parts, i

    out = parse_alt(0)
    if out is None:
        return None
    vals, i = out
    return vals if i == len(pattern) else None
