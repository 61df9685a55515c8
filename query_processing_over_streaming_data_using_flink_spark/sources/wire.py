"""Reference wire-format compatibility: `streamdata.csv` lines.

The reference's generator emits, and its streaming jobs consume, lines
of the form `{+|-}{CU|OR|LI}<pipe-separated .tbl row>` — a 3-char
action/relation header glued to the raw TPC-H row (SURVEY.md §1.3;
parser at `TPCHQuery3_StreamProcessor.java:301-338`, sample rows in
`view_output.ipynb`). A user of the reference has files in this format;
this module reads them into the engine's changelog schema and writes
the engine's changelog back out, so existing data flows both ways.

Parsing is pure column expressions (substring/split/element_at/cast) —
JVM-side, whole-stage codegen, no Python. Per-relation positional
projection mirrors the reference exactly (customer keeps cells[0,6],
orders cells[0,1,4], lineitem cells[0,3,5,6,10] — 0-based as in the
Java parser).

No `seq` column is assigned on read: a distributed text scan has no
global line number, and none is needed — the engine's signed-weight
algebra is commutative, so any batching/order yields the same state
(the reference needs its parallelism-1 source for that; we don't).
Writers that need replay determinism keep the engine-side changelog,
which carries `seq`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from query_processing_over_streaming_data_using_flink_spark.streaming.changelog import PAYLOAD_COLS

_REL_CODES = {"CU": "customer", "OR": "orders", "LI": "lineitem"}


def _cell(n: int) -> F.Column:
    """1-based cell accessor over the split payload."""
    return F.element_at(F.col("_cells"), n)


def parse_stream_lines(lines: DataFrame, col: str = "value") -> DataFrame:
    """Parse wire lines into the changelog schema (op, relation,
    <PAYLOAD_COLS>). Works on any DataFrame with a string column —
    `spark.read.text`, `spark.readStream.text`, or a Kafka value."""
    df = (
        lines.select(F.col(col).alias("_line"))
        .filter(F.length("_line") > 3)
        .select(
            F.when(F.substring("_line", 1, 1) == "+", F.lit(1)).otherwise(F.lit(-1)).alias("op"),
            F.substring("_line", 2, 2).alias("_rel"),
            F.split(F.substring(F.col("_line"), 4, 1 << 30), r"\|").alias("_cells"),
        )
    )
    rel = F.create_map(
        *[x for code, name in _REL_CODES.items() for x in (F.lit(code), F.lit(name))]
    )[F.col("_rel")]
    is_cu = F.col("_rel") == "CU"
    is_or = F.col("_rel") == "OR"
    payload = {
        "custkey": F.when(is_cu, _cell(1).cast("bigint")),
        "mktsegment": F.when(is_cu, _cell(7)),
        "orderkey": F.when(is_or, _cell(1).cast("bigint")).when(
            ~is_cu & ~is_or, _cell(1).cast("bigint")
        ),
        "o_custkey": F.when(is_or, _cell(2).cast("bigint")),
        "orderdate": F.when(is_or, _cell(5).cast("timestamp_ntz")),
        "linenumber": F.when(~is_cu & ~is_or, _cell(4).cast("int")),
        "extendedprice": F.when(~is_cu & ~is_or, _cell(6).cast("double")),
        "discount": F.when(~is_cu & ~is_or, _cell(7).cast("double")),
        "shipdate": F.when(~is_cu & ~is_or, _cell(11).cast("timestamp_ntz")),
    }
    return df.select(
        "op", rel.alias("relation"), *[payload[c].alias(c) for c in PAYLOAD_COLS]
    )


def read_streamdata(spark: SparkSession, path: str) -> DataFrame:
    """Batch-read a reference `streamdata.csv` into the changelog schema."""
    return parse_stream_lines(spark.read.text(path))


def format_stream_lines(changelog: DataFrame) -> DataFrame:
    """Render the engine's changelog as wire lines (single string
    column `value`, ready for `df.write.text`). Projected fields land
    at their reference `.tbl` positions; fields the changelog does not
    carry are written empty — the reference parser never reads them."""
    d = lambda c: F.date_format(F.col(c), "yyyy-MM-dd")  # noqa: E731
    e = F.lit("")
    cu = F.concat_ws(
        "|", F.col("custkey").cast("string"), e, e, e, e, e, F.col("mktsegment"), e
    )
    orr = F.concat_ws(
        "|",
        F.col("orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        e, e,
        d("orderdate"),
        e, e,
        F.lit("0"),
        e,
    )
    li = F.concat_ws(
        "|",
        F.col("orderkey").cast("string"),
        e, e,
        F.col("linenumber").cast("string"),
        e,
        F.col("extendedprice").cast("string"),
        F.col("discount").cast("string"),
        e, e, e,
        d("shipdate"),
        e, e, e, e, e,
    )
    header = F.concat(
        F.when(F.col("op") > 0, F.lit("+")).otherwise(F.lit("-")),
        F.when(F.col("relation") == "customer", F.lit("CU"))
        .when(F.col("relation") == "orders", F.lit("OR"))
        .otherwise(F.lit("LI")),
    )
    body = (
        F.when(F.col("relation") == "customer", cu)
        .when(F.col("relation") == "orders", orr)
        .otherwise(li)
    )
    out = changelog.select(F.col("seq"), F.concat(header, body).alias("value"))
    return out.orderBy("seq").select("value")
