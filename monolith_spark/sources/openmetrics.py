"""Prometheus text exposition format: format (federation export) and
parse (scrape ingest) as pure JVM-side column expressions.

The reference ingests ONLY snappy-compressed remote-write protobuf
(/root/reference/src/server.rs:76-113); the text exposition format —
what every scrape target and /federate endpoint actually speaks — is
the other half of the Prometheus wire surface. This module implements
both directions Spark-first: formatting is a sorted map-entries
transform + concat, parsing is split/filter/regexp extraction — no
Python UDFs, no driver loops, so a 100 TB backfill of scraped text
payloads parses at scan speed with whole-stage codegen.

Escaping follows the exposition spec: label values escape backslash,
double-quote, and newline (``\\``, ``\"``, ``\n``); the parser
unescapes through a placeholder swap so ``\\n`` (an escaped backslash
before an n) never turns into a newline. Values roundtrip through
Spark's shortest-roundtrip double formatting and accept the spec's
``NaN``/``+Inf``/``-Inf`` specials. A sample line's trailing
timestamp (milliseconds) is optional — absent ones take the scrape
time, exactly a Prometheus scrape.

Series without a ``__name__`` label cannot be represented in the
exposition format (the metric name is the line prefix) — format_lines
raises on them rather than silently inventing a name.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_NAME_RE = "[a-zA-Z_:][a-zA-Z0-9_:]*"
_LABEL_PAIR_RE = r'([a-zA-Z_][a-zA-Z0-9_]*)="((?:\\.|[^"\\])*)"'
# non-capturing pair, for the blob grammar below
_PAIR_NC = r'(?:[a-zA-Z_][a-zA-Z0-9_]*="(?:\\.|[^"\\])*")'
# label blob = a comma-separated pair list. Constrained (not `.*`)
# because the OpenMetrics exemplar suffix makes a greedy blob
# ambiguous — `m{a="b"} 1 2 # {t="x"} 3 4` must never parse the
# exemplar section into the label blob; quoted values may still
# contain `}`/`#`/spaces, the quotes keep the grammar unambiguous.
_BLOB_RE = rf"((?:\s*{_PAIR_NC}\s*(?:,\s*)?)*)"
_VALUE_RE = r"(NaN|[+-]?Inf|[+-]?[0-9]*\.?[0-9]+(?:[eE][+-]?[0-9]+)?)"
# full sample line: name{labels} value [timestamp_ms]
#                   [ # {exemplar_labels} exemplar_value [ex_ts_ms] ]
# — the OpenMetrics exemplar syntax on this dialect's ms stamps.
_LINE_RE = (
    rf"^({_NAME_RE})"
    rf"(?:\{{{_BLOB_RE}\}})?"
    rf"\s+{_VALUE_RE}"
    r"(?:\s+(-?[0-9]+))?"
    rf"(?:\s+#\s+\{{{_BLOB_RE}\}}\s+{_VALUE_RE}(?:\s+(-?[0-9]+))?)?"
    r"\s*$"
)

_ESC = "\x00"  # placeholder for the escaped-backslash swap


def _escape(v):
    v = F.replace(v, F.lit("\\"), F.lit("\\\\"))
    v = F.replace(v, F.lit('"'), F.lit('\\"'))
    return F.replace(v, F.lit("\n"), F.lit("\\n"))


def _unescape(v):
    v = F.replace(v, F.lit("\\\\"), F.lit(_ESC))
    v = F.replace(v, F.lit('\\"'), F.lit('"'))
    v = F.replace(v, F.lit("\\n"), F.lit("\n"))
    return F.replace(v, F.lit(_ESC), F.lit("\\"))


def format_lines(samples: DataFrame, with_exemplars: bool = False) -> DataFrame:
    """[labels, timestamp, value] → one exposition line per sample
    (column ``line``): ``name{k="v",...} value timestamp_ms`` with
    labels sorted by key. Raises at execution on a series without
    ``__name__`` — the format cannot express one. With
    ``with_exemplars``, rows whose ``exemplar_value`` is non-NULL
    append the OpenMetrics exemplar suffix
    `` # {k="v"} value ts_ms`` (format∘parse is the identity,
    exemplars included — tested)."""
    name = F.try_element_at("labels", F.lit("__name__"))
    guarded = F.when(name.isNotNull(), name).otherwise(
        F.raise_error(
            F.lit(
                "exposition format requires a __name__ label on every "
                "series (federation exports named series only)"
            )
        )
    )
    pairs = F.transform(
        F.array_sort(
            F.filter(
                F.map_entries("labels"), lambda e: e["key"] != F.lit("__name__")
            )
        ),
        lambda e: F.concat(
            e["key"], F.lit('="'), _escape(e["value"]), F.lit('"')
        ),
    )
    blob = F.when(
        F.size(pairs) > 0,
        F.concat(F.lit("{"), F.array_join(pairs, ","), F.lit("}")),
    ).otherwise(F.lit(""))
    val = (
        F.when(F.isnan("value"), F.lit("NaN"))
        .when(F.col("value") == float("inf"), F.lit("+Inf"))
        .when(F.col("value") == float("-inf"), F.lit("-Inf"))
        .otherwise(F.col("value").cast("string"))
    )
    line = F.concat(
        guarded, blob, F.lit(" "), val, F.lit(" "),
        F.col("timestamp").cast("string"),
    )
    if with_exemplars:
        ex_pairs = F.transform(
            F.array_sort(F.map_entries("exemplar_labels")),
            lambda e: F.concat(
                e["key"], F.lit('="'), _escape(e["value"]), F.lit('"')
            ),
        )
        ex_val = (
            F.when(F.isnan("exemplar_value"), F.lit("NaN"))
            .when(F.col("exemplar_value") == float("inf"), F.lit("+Inf"))
            .when(F.col("exemplar_value") == float("-inf"), F.lit("-Inf"))
            .otherwise(F.col("exemplar_value").cast("string"))
        )
        suffix = F.when(
            F.col("exemplar_value").isNotNull(),
            F.concat(
                F.lit(" # {"), F.array_join(ex_pairs, ","), F.lit("} "),
                ex_val, F.lit(" "), F.col("exemplar_ts").cast("string"),
            ),
        ).otherwise(F.lit(""))
        line = F.concat(line, suffix)
    return samples.select(line.alias("line"))


def _value_expr(col):
    return (
        F.when(col == "NaN", F.lit(float("nan")))
        .when(col.isin("+Inf", "Inf"), F.lit(float("inf")))
        .when(col == "-Inf", F.lit(float("-inf")))
        .otherwise(col.cast("double"))
    )


def _pairs_map(blob_col):
    keys = F.regexp_extract_all(blob_col, F.lit(_LABEL_PAIR_RE), 1)
    vals = F.transform(
        F.regexp_extract_all(blob_col, F.lit(_LABEL_PAIR_RE), 2), _unescape
    )
    return F.map_from_arrays(keys, vals)


def parse_lines(
    lines: DataFrame,
    default_ts_ms: int | None = None,
    line_col: str = "line",
    default_ts_col: str | None = None,
    with_exemplars: bool = False,
) -> DataFrame:
    """Exposition lines → samples [labels, timestamp, value]. Comment
    (``#``) and blank lines drop; any other non-matching line raises
    at execution (a malformed scrape must fail loudly, not vanish).
    Lines without the optional trailing timestamp take
    ``default_ts_col`` (a per-row long-ms column — e.g. the scrape
    file's modification time in a stream) when given, else
    ``default_ts_ms``; one of them is required if any such line
    exists — a scrape stamps its own time.

    ``with_exemplars`` adds the OpenMetrics exemplar suffix columns —
    [exemplar_labels, exemplar_value, exemplar_ts] (NULLs when the
    line carries none; an exemplar without its own stamp takes the
    sample's) — exemplar_frame turns them into the frame
    ``db.write(..., exemplars=)`` takes."""
    l = F.trim(F.col(line_col))
    carry = [F.col(default_ts_col).alias("__dts")] if default_ts_col else []
    body = lines.select(l.alias("__l"), *carry).filter(
        (F.length("__l") > 0) & ~F.col("__l").startswith("#")
    )
    m = F.regexp_extract("__l", _LINE_RE, 0)
    name = F.regexp_extract("__l", _LINE_RE, 1)
    blob = F.regexp_extract("__l", _LINE_RE, 2)
    val_s = F.regexp_extract("__l", _LINE_RE, 3)
    ts_s = F.regexp_extract("__l", _LINE_RE, 4)
    ex_blob = F.regexp_extract("__l", _LINE_RE, 5)
    ex_val_s = F.regexp_extract("__l", _LINE_RE, 6)
    ex_ts_s = F.regexp_extract("__l", _LINE_RE, 7)
    bad = F.raise_error(
        F.concat(F.lit("malformed exposition line: "), F.col("__l"))
    )
    pm = _pairs_map("__b")
    labels = F.map_concat(
        F.create_map(F.lit("__name__"), F.col("__n")), pm
    )
    value = _value_expr(F.col("__v"))
    explicit = F.when(F.col("__t") != "", F.col("__t").cast("long"))
    if default_ts_col is not None:
        ts = explicit.otherwise(F.col("__dts").cast("long"))
    elif default_ts_ms is not None:
        ts = explicit.otherwise(F.lit(int(default_ts_ms)))
    else:
        ts = explicit.otherwise(
            F.raise_error(
                F.concat(
                    F.lit("exposition line has no timestamp and no "
                          "default_ts_ms was given: "),
                    F.col("__l"),
                )
            )
        )
    parsed = body.select(
        "__l",
        *(["__dts"] if default_ts_col else []),
        F.when(m != "", name).otherwise(bad).alias("__n"),
        blob.alias("__b"),
        val_s.alias("__v"),
        ts_s.alias("__t"),
        ex_blob.alias("__xb"),
        ex_val_s.alias("__xv"),
        ex_ts_s.alias("__xt"),
    )
    cols = [
        labels.alias("labels"),
        ts.alias("timestamp"),
        value.alias("value"),
    ]
    if with_exemplars:
        has_ex = F.col("__xv") != ""
        cols += [
            F.when(has_ex, _pairs_map("__xb")).alias("exemplar_labels"),
            F.when(has_ex, _value_expr(F.col("__xv"))).alias("exemplar_value"),
            F.when(
                has_ex,
                F.when(F.col("__xt") != "", F.col("__xt").cast("long"))
                .otherwise(ts),
            ).alias("exemplar_ts"),
        ]
    return parsed.select(*cols)


def scrape_stream(
    spark, scrape_dir: str, with_exemplars: bool = False
) -> DataFrame:
    """Streaming scrape ingestion: a directory where exposition text
    files land (one scrape payload per file — what a fleet of
    scrapers or a push gateway drops) becomes a streaming samples
    DataFrame, ready for StreamingIngest. Lines without their own
    timestamp are stamped with the FILE's modification time (the
    ``_metadata`` file-source column) — per-payload scrape time, like
    Prometheus stamping a scrape. Parsing is the same JVM column
    expressions as the batch path, so batch parse_payload results are
    the streaming oracle by construction. ``with_exemplars`` carries
    the OpenMetrics exemplar suffix columns through — StreamingIngest
    writes them with the samples, one commit per micro-batch."""
    lines = spark.readStream.text(scrape_dir).select(
        F.col("value").alias("line"),
        F.unix_millis(F.col("_metadata.file_modification_time")).alias(
            "__scrape_ts"
        ),
    )
    return parse_lines(
        lines, default_ts_col="__scrape_ts", with_exemplars=with_exemplars
    )


_META_LINE_RE = re.compile(
    rf"^#\s+(HELP|TYPE|UNIT)\s+({_NAME_RE})(?:\s+(.*))?$"
)


def parse_metadata_text(text: str) -> dict[str, dict]:
    """The payload's metadata comments — ``# HELP name docstring``,
    ``# TYPE name counter|gauge|...``, ``# UNIT name seconds`` — as
    {metric: {help, type, unit}}. HELP docstrings unescape per the
    exposition spec (``\\\\`` and ``\\n``). Driver-side by design:
    metadata lines are bounded by the number of metric NAMES in a
    scrape (dozens), not samples — db.set_metric_metadata stores the
    result in the manifest, one bounded dict per db. Non-metadata
    comment lines pass through untouched (the sample parser already
    drops all ``#`` lines)."""
    out: dict[str, dict] = {}
    for raw in text.split("\n"):
        line = raw.strip()
        if not line.startswith("#"):
            continue
        m = _META_LINE_RE.match(line)
        if not m:
            continue
        field, name, rest = m.group(1).lower(), m.group(2), m.group(3) or ""
        if field == "help":
            rest = (
                rest.replace("\\\\", _ESC)
                .replace("\\n", "\n")
                .replace(_ESC, "\\")
            )
        elif field == "type":
            rest = rest.strip().lower()
        out.setdefault(name, {})[field] = rest
    return out


def parse_payload(
    spark, text: str, default_ts_ms: int | None = None,
    with_exemplars: bool = False,
) -> DataFrame:
    """One scrape payload (a whole exposition document) → samples.
    The payload splits into lines inside the plan, so a table of many
    payloads composes the same way (explode(split(...)))."""
    df = spark.createDataFrame([(text,)], "payload string")
    lines = df.select(
        F.explode(F.split("payload", "\n")).alias("line")
    )
    return parse_lines(
        lines, default_ts_ms=default_ts_ms, with_exemplars=with_exemplars
    )


def exemplar_frame(parsed: DataFrame) -> DataFrame:
    """Rows parsed ``with_exemplars`` → the exemplars of the lines
    that carry one, as [labels, timestamp, value, exemplar_labels] —
    the frame ``MonolithDB.write(..., exemplars=)`` takes."""
    return parsed.filter(F.col("exemplar_value").isNotNull()).select(
        "labels",
        F.col("exemplar_ts").alias("timestamp"),
        F.col("exemplar_value").alias("value"),
        "exemplar_labels",
    )
