"""TSV message parsing (S2): raw Kafka payload -> typed message rows.

The reference parses headers + positional TSV via fixed column lists
with cell processors (ConsumerRunnable.java:379-556;
processor/ParseNullAsEmpty.java, ParseLongEmptyAsZero.java,
ParseTimestamp.java). Here the payload splits on tab and each field
casts by position against the message StructType, with the same
coercions: empty string -> NULL for strings? No — the reference maps
null -> "" for strings and "" -> 0 for numerics; booleans arrive as
0/1 or true/false; timestamps as 'yyyy-MM-dd HH:mm:ss[.SSSSSS]'.
All column expressions — codegen-friendly, no Python in the path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import MESSAGE_SCHEMAS


def _coerce(raw: Column, dtype: T.DataType) -> Column:
    # try_cast / try_to_timestamp throughout: this parses EXTERNAL wire
    # bytes, and under ANSI mode (the Spark 4 default) a plain cast
    # aborts the whole micro-batch on the first malformed field. The
    # reference's consumer logs-and-tolerates bad fields
    # (ConsumerRunnable.java parse guards); here a broken field
    # degrades to NULL and the row survives for dead-lettering.
    if isinstance(dtype, T.StringType):
        return F.coalesce(raw, F.lit(""))  # ParseNullAsEmpty
    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType)):
        empty_as_zero = F.when(F.length(F.trim(raw)) == 0, F.lit("0")) \
                         .otherwise(raw)  # ParseLongEmptyAsZero
        return empty_as_zero.try_cast(dtype)
    if isinstance(dtype, T.BooleanType):
        return (
            F.when(F.lower(raw).isin("1", "true", "t"), F.lit(True))
            .when(F.lower(raw).isin("0", "false", "f", ""), F.lit(False))
            .otherwise(F.lit(None).cast("boolean"))
        )
    if isinstance(dtype, T.TimestampType):
        return F.try_to_timestamp(raw)  # ParseTimestamp (UTC session)
    return raw.try_cast(dtype)


def parse_tsv(raw: DataFrame, msg_type: str | T.StructType,
              value_col: str = "value",
              keep: tuple[str, ...] = ()) -> DataFrame:
    """Split tab-separated payload rows into the typed message schema
    by position. ``raw`` is e.g. the Kafka value (bytes/string).
    ``msg_type`` is a MESSAGE_SCHEMAS key, or a StructType directly
    for ad-hoc wire formats. ``keep`` carries source columns (e.g.
    the Kafka record key) through the projection — referencing them
    on the parsed frame via the parent plan's attributes fails
    analysis on streaming relations."""
    schema = msg_type if isinstance(msg_type, T.StructType) \
        else MESSAGE_SCHEMAS[msg_type]
    fields = F.split(F.col(value_col).cast("string"), "\t")
    return raw.select(*[
        _coerce(fields.getItem(i), f.dataType).alias(f.name)
        for i, f in enumerate(schema.fields)
    ], *[F.col(c) for c in keep])


def split_dead_letter(parsed: DataFrame,
                      required: tuple[str, ...]) -> tuple[DataFrame, DataFrame]:
    """Quarantine rows whose REQUIRED typed fields failed to parse
    (try_cast degraded them to NULL): returns (valid, dead), where
    ``dead`` carries a deterministic ``dl_reason`` column naming the
    null required fields in schema order ('null:ts,asn').

    Scale shape: two complementary scan-stage filters over the same
    parse projection — no shuffle, no second parse; at 100 TB the
    dead stream is appended to a quarantine table for replay after a
    parser fix (the reference logs-and-drops; a lakehouse keeps the
    bytes)."""
    nulls = [F.when(F.col(c).isNull(), F.lit(c)) for c in required]
    reason = F.concat_ws(",", *nulls)  # concat_ws skips nulls
    ok = F.lit(True)
    for c in required:
        ok = ok & F.col(c).isNotNull()
    valid = parsed.filter(ok)
    dead = parsed.filter(~ok).withColumn(
        "dl_reason", F.concat(F.lit("null:"), reason))
    return valid, dead


def to_tsv(df: DataFrame, msg_type: str) -> DataFrame:
    """Inverse (for tests/fixtures): typed rows -> one tab-joined
    string column ``value``."""
    schema = MESSAGE_SCHEMAS[msg_type]
    cols = []
    for f_ in schema.fields:
        c = F.col(f_.name)
        if isinstance(f_.dataType, T.TimestampType):
            c = F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
        elif isinstance(f_.dataType, T.BooleanType):
            c = F.when(c, "1").otherwise("0")
        cols.append(F.coalesce(c.cast("string"), F.lit("")))
    return df.select(F.concat_ws("\t", *cols).alias("value"))


def ingest_with_dead_letter(store, raw: DataFrame,
                            schema: "str | T.StructType",
                            required: tuple[str, ...], *,
                            batch_id: int,
                            valid_table: str = "wire_valid",
                            dead_table: str = "wire_dead") -> None:
    """Micro-batch wire ingest with quarantine: parse the batch once,
    split on required-field nullability, and commit BOTH streams in
    one store transaction keyed by ``batch_id`` — a replayed batch is
    skipped entirely (exactly-once, same guard as the BMP sink), and
    a crash between the two appends can never publish valid rows
    while losing their quarantine siblings (single atomic commit).

    The txn app name derives from the table names so two wire feeds
    sharing a store keep independent replay counters (same rule as
    ``incremental_minhash_pairs``). One ``state.index_step``: the
    parse projection is persisted for the two complementary filters
    and released before return — a long-running stream accumulates
    no blocks."""
    from ..state import index_step

    def build(keep):
        # the parse feeds both complementary filters
        valid, dead = split_dead_letter(keep(parse_tsv(raw, schema)),
                                        required)
        return [(valid_table, valid), (dead_table, dead)]

    index_step(store, f"dead_letter:{valid_table}:{dead_table}",
               batch_id, build)
