"""SMT library — the reference's single-message transforms as Column ops.

Connect SMTs are per-record, stateless, chainable functions
(SURVEY §2.4, T1–T5). Here each is a ``DataFrame -> DataFrame``
closure over pure built-in Column expressions — narrow, codegen'd,
zero shuffle, zero Python in the hot path.

Canonical record shape (the engine's analogue of a ``SourceRecord``):
    key: any (struct / scalar / null)
    value: struct (null = tombstone)
    topic: string
plus passthrough metadata columns (partition, offset, timestamp) when
present. SMTs only touch key/value/topic, like Connect.

Reference parity:
- T1 ValueToKey        jdbc_source_configs/mysql_jdbc_source_customers.json:19-20
                       (composite: connector_configs/mysql_jdbc_om_source_mkey.json:14-16)
- T2 ExtractField$Key  jdbc_source_configs/mysql_jdbc_source_customers.json:21-22
- T3 ExtractNewRecordState (Debezium unwrap)
                       실습수행/Debezium MySQL CDC Source Connector 실습 - 01.md:306-308
- T4 RegexRouter       실습수행/Debezium MySQL CDC Source Connector 실습 - 01.md:630-634
- T5 TimestampConverter$Value
                       실습수행/Debezium MySQL CDC Source Connector 실습 - 02.md:364-368
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafkaconnect_spark.plans.spec import SpecError, TransformSpec

Transform = Callable[[DataFrame], DataFrame]

# Connect timestamp format strings are java.text.SimpleDateFormat; Spark
# uses java.time.DateTimeFormatter patterns — for the patterns the
# reference exercises ("yyyy-MM-dd'T'HH:mm:ss'Z'") they coincide.


def value_to_key(fields: list[str]) -> Transform:
    """T1: copy value fields into a struct key.

    A single-field key stays a one-field struct (Connect emits a
    Struct either way; scalar unwrap is T2's job).
    """
    if not fields:
        raise SpecError("ValueToKey requires fields")

    def _apply(df: DataFrame) -> DataFrame:
        return df.withColumn("key", F.struct(*[F.col(f"value.{f}").alias(f) for f in fields]))

    return _apply


def extract_field(field: str, target: str) -> Transform:
    """T2 (and the $Value twin): unwrap one field of a struct column."""
    if target not in ("key", "value"):
        raise SpecError(f"ExtractField target must be key or value, got {target}")

    def _apply(df: DataFrame) -> DataFrame:
        return df.withColumn(target, F.col(f"{target}.{field}"))

    return _apply


def extract_new_record_state(drop_tombstones: bool = False) -> Transform:
    """T3: Debezium envelope {before, after, source, op, ts_ms} → flat row.

    - op in (c, u, r): value = after
    - op = d: value = null (a delete signal the sink turns into DELETE)
    - tombstone passthrough unless drop_tombstones
      (drop.tombstones="false" everywhere in the reference,
      실습수행/Debezium MySQL CDC Source Connector 실습 - 01.md:308)

    drop_tombstones drops only PRE-EXISTING tombstones (value already
    null before unwrap) — Connect semantics. Delete events (op='d')
    always pass through as null-value delete signals; filtering after
    the conversion would silently discard every DELETE, not just
    tombstones."""

    def _apply(df: DataFrame) -> DataFrame:
        if drop_tombstones:
            df = df.where(F.col("value").isNotNull())
        return df.withColumn(
            "value",
            F.when(F.col("value").isNull(), F.lit(None).cast(df.schema["value"].dataType["after"].dataType))
            .when(F.col("value.op") == "d", F.lit(None))
            .otherwise(F.col("value.after")),
        )

    return _apply


def regex_router(regex: str, replacement: str) -> Transform:
    """T4: rewrite topic. Connect's RegexRouter full-matches the topic
    against `regex` and applies `replacement` ($1 group refs); topics
    that don't match pass through unchanged. We reproduce full-match
    semantics by anchoring with a non-capturing group so user group
    numbers ($1...) are preserved.
    """
    anchored = f"^(?:{regex})$"

    def _apply(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "topic",
            F.when(
                F.col("topic").rlike(anchored),
                F.regexp_replace(F.col("topic"), anchored, replacement),
            ).otherwise(F.col("topic")),
        )

    return _apply


def timestamp_converter(
    field: str,
    target_type: str,
    fmt: str | None = None,
    target: str = "value",
) -> Transform:
    """T5: convert one value field between string/unix/Timestamp/Date.

    Reference usage: string "2023-01-01T10:00:00Z" → Timestamp with
    format yyyy-MM-dd'T'HH:mm:ss'Z' (실습 - 02.md:364-368).
    """
    valid = {"Timestamp", "Date", "string", "unix"}
    if target_type not in valid:
        raise SpecError(f"TimestampConverter target.type must be one of {sorted(valid)}")

    def _convert(c: Column) -> Column:
        if target_type == "Timestamp":
            return F.to_timestamp(c, fmt) if fmt else F.to_timestamp(c)
        if target_type == "Date":
            return F.to_date(c, fmt) if fmt else F.to_date(c)
        if target_type == "string":
            return F.date_format(c, fmt or "yyyy-MM-dd'T'HH:mm:ss'Z'")
        # unix: honor the declared parse format (without it a
        # non-default string format parses to all-NULL); Connect's unix
        # target is epoch MILLISECONDS, not seconds. unix_millis is
        # exact — a double*1000 detour truncates ~0.6% of exact-ms
        # timestamps one millisecond low
        parsed = (F.to_timestamp(c, fmt) if fmt else F.to_timestamp(c))
        return F.unix_millis(parsed)

    def _apply(df: DataFrame) -> DataFrame:
        struct_fields = [f.name for f in df.schema[target].dataType.fields]
        if field not in struct_fields:
            # Connect's TimestampConverter fails on an unknown field —
            # a silent pass-through would hide a spec typo until the
            # sink chokes on the unconverted type
            raise SpecError(
                f"TimestampConverter field '{field}' not in {target} "
                f"fields {struct_fields}"
            )
        replaced = [
            _convert(F.col(f"{target}.{name}")).alias(name) if name == field
            else F.col(f"{target}.{name}").alias(name)
            for name in struct_fields
        ]
        # preserve tombstones: null struct in, null struct out
        return df.withColumn(
            target,
            F.when(F.col(target).isNull(), F.lit(None)).otherwise(F.struct(*replaced)),
        )

    return _apply


# ---------------------------------------------------------------------------
# standard-set SMTs beyond the reference's T1–T5 (org.apache.kafka.connect
# .transforms.*): the reference labs never configure these, but they are
# the transforms every production Connect deployment reaches for — a user
# switching to this engine keeps them. All are narrow Column rebuilds of
# the value struct, tombstone-preserving (null struct in → null out),
# matching Connect's null-record pass-through.
# ---------------------------------------------------------------------------


def _rebuild_struct(df: DataFrame, target: str, cols: list[Column]) -> DataFrame:
    """Replace a struct column, preserving tombstones (null in → null
    out — Connect SMTs pass null records through untouched)."""
    return df.withColumn(
        target,
        F.when(F.col(target).isNull(), F.lit(None)).otherwise(F.struct(*cols)),
    )


def _struct_fields(df: DataFrame, target: str) -> list[str]:
    return [f.name for f in df.schema[target].dataType.fields]


def insert_field(
    static_field: str | None = None,
    static_value: str | None = None,
    topic_field: str | None = None,
    timestamp_field: str | None = None,
    target: str = "value",
) -> Transform:
    """InsertField$Value: append static / topic / record-timestamp
    metadata fields to the value struct."""
    if not any((static_field, topic_field, timestamp_field)):
        raise SpecError("InsertField requires a field to insert")
    if static_field is not None and static_value is None:
        raise SpecError("InsertField static.field requires static.value")

    def _apply(df: DataFrame) -> DataFrame:
        names = _struct_fields(df, target)
        cols = [F.col(f"{target}.{n}").alias(n) for n in names]
        if static_field:
            cols.append(F.lit(static_value).alias(static_field))
        if topic_field:
            cols.append(F.col("topic").alias(topic_field))
        if timestamp_field:
            if "timestamp" not in df.columns:
                raise SpecError(
                    "InsertField timestamp.field needs a record timestamp column"
                )
            cols.append(F.col("timestamp").alias(timestamp_field))
        return _rebuild_struct(df, target, cols)

    return _apply


def replace_field(
    renames: dict[str, str] | None = None,
    include: list[str] | None = None,
    exclude: list[str] | None = None,
    target: str = "value",
) -> Transform:
    """ReplaceField$Value: drop (exclude) / keep-only (include) /
    rename fields. Connect applies the include/exclude filter first,
    then renames."""
    renames = renames or {}

    def _apply(df: DataFrame) -> DataFrame:
        names = _struct_fields(df, target)
        kept = [
            n
            for n in names
            if (not include or n in include) and (not exclude or n not in exclude)
        ]
        if not kept:
            raise SpecError("ReplaceField removed every field")
        cols = [F.col(f"{target}.{n}").alias(renames.get(n, n)) for n in kept]
        return _rebuild_struct(df, target, cols)

    return _apply


def mask_field(
    fields: list[str], replacement: str | None = None, target: str = "value"
) -> Transform:
    """MaskField$Value: null out (or replace with a literal coerced to
    the field's type) the named fields — the PII-redaction SMT."""
    if not fields:
        raise SpecError("MaskField requires fields")

    def _apply(df: DataFrame) -> DataFrame:
        names = _struct_fields(df, target)
        missing = set(fields) - set(names)
        if missing:
            raise SpecError(f"MaskField unknown fields {sorted(missing)}")
        dtypes = {f.name: f.dataType for f in df.schema[target].dataType.fields}
        cols = []
        for n in names:
            if n in fields:
                masked = (
                    F.lit(None) if replacement is None else F.lit(replacement)
                ).cast(dtypes[n])
                cols.append(masked.alias(n))
            else:
                cols.append(F.col(f"{target}.{n}").alias(n))
        return _rebuild_struct(df, target, cols)

    return _apply


_CAST_TYPES = {
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "float32": "float",
    "float64": "double",
    "boolean": "boolean",
    "string": "string",
}


def cast_fields(spec: dict[str, str], target: str = "value") -> Transform:
    """Cast$Value with a field spec ("f1:int32,f2:string"): per-field
    type coercion using Connect's type vocabulary."""
    bad = {t for t in spec.values() if t not in _CAST_TYPES}
    if bad:
        raise SpecError(f"Cast unknown types {sorted(bad)}; valid: {sorted(_CAST_TYPES)}")

    def _apply(df: DataFrame) -> DataFrame:
        names = _struct_fields(df, target)
        missing = set(spec) - set(names)
        if missing:
            raise SpecError(f"Cast unknown fields {sorted(missing)}")
        cols = [
            (
                F.col(f"{target}.{n}").cast(_CAST_TYPES[spec[n]]) if n in spec
                else F.col(f"{target}.{n}")
            ).alias(n)
            for n in names
        ]
        return _rebuild_struct(df, target, cols)

    return _apply


def hoist_field(field: str, target: str = "value") -> Transform:
    """HoistField$Value: wrap the current value (scalar or struct)
    as the single field of a new struct."""

    def _apply(df: DataFrame) -> DataFrame:
        return df.withColumn(
            target,
            F.when(F.col(target).isNull(), F.lit(None)).otherwise(
                F.struct(F.col(target).alias(field))
            ),
        )

    return _apply


def flatten_value(delimiter: str = ".", target: str = "value") -> Transform:
    """Flatten$Value: recursively flatten nested structs, joining path
    segments with ``delimiter`` (Connect's default '.')."""
    from pyspark.sql import types as T

    def _cols(dtype: "T.StructType", path: str, prefix: str) -> list[Column]:
        out: list[Column] = []
        for f in dtype.fields:
            p = f"{path}.`{f.name}`"
            name = f"{prefix}{delimiter}{f.name}" if prefix else f.name
            if isinstance(f.dataType, T.StructType):
                out.extend(_cols(f.dataType, p, name))
            else:
                out.append(F.expr(p).alias(name))
        return out

    def _apply(df: DataFrame) -> DataFrame:
        dtype = df.schema[target].dataType
        return _rebuild_struct(df, target, _cols(dtype, target, ""))

    return _apply


def timestamp_router(
    topic_format: str = "${topic}-${timestamp}",
    ts_format: str = "yyyyMMdd",
) -> Transform:
    """TimestampRouter: rewrite the topic from the record timestamp —
    the time-partitioned-sink-table router."""

    def _apply(df: DataFrame) -> DataFrame:
        if "timestamp" not in df.columns:
            raise SpecError("TimestampRouter needs a record timestamp column")
        ts_str = F.date_format(F.col("timestamp"), ts_format)
        parts: list[Column] = []
        rest = topic_format
        while rest:
            nxt = min(
                (i for i in (rest.find("${topic}"), rest.find("${timestamp}")) if i >= 0),
                default=-1,
            )
            if nxt < 0:
                parts.append(F.lit(rest))
                break
            if nxt > 0:
                parts.append(F.lit(rest[:nxt]))
                rest = rest[nxt:]
            if rest.startswith("${topic}"):
                parts.append(F.col("topic"))
                rest = rest[len("${topic}"):]
            else:
                parts.append(ts_str)
                rest = rest[len("${timestamp}"):]
        return df.withColumn("topic", F.concat(*parts))

    return _apply


def filter_records(
    predicate: str, pattern: str | None = None, negate: bool = False
) -> Transform:
    """Filter + predicate (Connect's predicates API): DROP records the
    predicate matches (negate inverts). Supported predicates:
    TopicNameMatches(pattern — anchored, java Pattern.matches
    semantics) and RecordIsTombstone."""
    if predicate == "TopicNameMatches":
        if not pattern:
            raise SpecError("TopicNameMatches requires pattern")
        cond = F.col("topic").rlike(f"^(?:{pattern})$")
    elif predicate == "RecordIsTombstone":
        cond = F.col("value").isNull()
    else:
        raise SpecError(f"unknown predicate {predicate!r}")
    drop = ~cond if negate else cond

    def _apply(df: DataFrame) -> DataFrame:
        return df.where(~drop)

    return _apply


# ---------------------------------------------------------------------------
# registry: Connect SMT class name -> builder(params) -> Transform
# ---------------------------------------------------------------------------

def _build_value_to_key(p: dict[str, str]) -> Transform:
    return value_to_key([f.strip() for f in p.get("fields", "").split(",") if f.strip()])


def _build_extract_key(p: dict[str, str]) -> Transform:
    return extract_field(p["field"], "key")


def _build_extract_value(p: dict[str, str]) -> Transform:
    return extract_field(p["field"], "value")


def _build_unwrap(p: dict[str, str]) -> Transform:
    return extract_new_record_state(
        drop_tombstones=str(p.get("drop.tombstones", "true")).lower() == "true"
    )


def _build_router(p: dict[str, str]) -> Transform:
    return regex_router(p["regex"], p["replacement"])


def _build_ts_converter(p: dict[str, str]) -> Transform:
    return timestamp_converter(
        field=p["field"],
        target_type=p["target.type"],
        fmt=p.get("format"),
    )


# ---------------------------------------------------------------------------
# user extension point (SURVEY §2.7): registered Python transforms.
# Connect's SMT surface has no UDF hook; ours allows a named Python
# DataFrame→DataFrame function in the chain — spec type
# "PythonFunction" with param "function": the registered name:
#   {"type": "kafkaconnect_spark.PythonFunction", "function": "clean"}
# ---------------------------------------------------------------------------

USER_TRANSFORM_REGISTRY: dict[str, Callable[[dict[str, str]], Transform]] = {}


def register_python_transform(
    name: str, fn: Transform | Callable[[dict[str, str]], Transform], takes_params: bool = False
) -> None:
    """Register a Python transform for use in SMT chains. ``fn`` is a
    DataFrame→DataFrame callable, or (with ``takes_params=True``) a
    builder params→Transform."""
    USER_TRANSFORM_REGISTRY[name] = fn if takes_params else (lambda _p, _fn=fn: _fn)


def pandas_batch_transform(fn, schema) -> Transform:
    """Arrow-batched pandas map as an SMT: ``fn`` sees a
    pandas.DataFrame per batch and returns one matching ``schema``.
    The slow-path escape hatch — per-batch Arrow transfer, never
    row-at-a-time; keep hot-path transforms as Column expressions."""

    def _apply(df: DataFrame) -> DataFrame:
        def gen(batches):
            for pdf in batches:
                yield fn(pdf)

        return df.mapInPandas(gen, schema=schema)

    return _apply


def _build_python_function(p: dict[str, str]) -> Transform:
    name = p.get("function", "")
    builder = USER_TRANSFORM_REGISTRY.get(name)
    if builder is None:
        raise SpecError(f"unregistered python transform {name!r}")
    return builder(p)


def _csv(p: dict[str, str], key: str) -> list[str]:
    return [f.strip() for f in p.get(key, "").split(",") if f.strip()]


def _build_insert_field(p: dict[str, str]) -> Transform:
    return insert_field(
        static_field=p.get("static.field"),
        static_value=p.get("static.value"),
        topic_field=p.get("topic.field"),
        timestamp_field=p.get("timestamp.field"),
    )


def _build_replace_field(p: dict[str, str]) -> Transform:
    renames = {}
    for pair in _csv(p, "renames"):
        if ":" not in pair:
            raise SpecError(f"ReplaceField renames entry {pair!r} needs from:to")
        src, dst = pair.split(":", 1)
        renames[src.strip()] = dst.strip()
    return replace_field(
        renames=renames,
        include=_csv(p, "include") or None,
        exclude=_csv(p, "exclude") or None,
    )


def _build_mask_field(p: dict[str, str]) -> Transform:
    return mask_field(_csv(p, "fields"), replacement=p.get("replacement"))


def _build_cast(p: dict[str, str]) -> Transform:
    spec = {}
    for pair in _csv(p, "spec"):
        if ":" not in pair:
            raise SpecError(f"Cast spec entry {pair!r} needs field:type")
        fld, typ = pair.split(":", 1)
        spec[fld.strip()] = typ.strip()
    return cast_fields(spec)


def _build_hoist(p: dict[str, str]) -> Transform:
    return hoist_field(p["field"])


def _build_flatten(p: dict[str, str]) -> Transform:
    return flatten_value(delimiter=p.get("delimiter", "."))


def _build_ts_router(p: dict[str, str]) -> Transform:
    return timestamp_router(
        topic_format=p.get("topic.format", "${topic}-${timestamp}"),
        ts_format=p.get("timestamp.format", "yyyyMMdd"),
    )


def _check_survivors_key(p: dict[str, str], name: str) -> None:
    """The index SMTs always add their survivors: an old config that
    sets ``append.survivors`` to anything but true is refused, not
    silently reinterpreted as appending."""
    if str(p.get("append.survivors", "true")).lower() != "true":
        raise SpecError(
            f"{name}: append.survivors={p['append.survivors']!r} is no longer "
            "supported — the SMT always adds its survivors to the index"
        )


def _build_dedup_index(p: dict[str, str]) -> Transform:
    """Streaming ingest dedup against the persisted LSH index
    (operators/lsh_index.streaming_dedup_transform): drop records
    whose document near-duplicates the index, append survivors."""
    from kafkaconnect_spark.operators.lsh_index import streaming_dedup_transform

    if not p.get("index.dir"):
        raise SpecError("DedupIndex requires index.dir")
    _check_survivors_key(p, "DedupIndex")
    thr = p.get("threshold")
    return streaming_dedup_transform(
        index_dir=str(p["index.dir"]),
        id_field=p.get("id.field", "doc_id"),
        text_field=p.get("text.field", "text"),
        threshold=float(thr) if thr is not None else None,
    )


def _build_semdedup_index(p: dict[str, str]) -> Transform:
    """Streaming vector dedup against the persisted IVF-PQ index
    (operators/pq_index.streaming_semdedup_transform): drop records
    whose embedding's best exact cosine vs the indexed corpus reaches
    the threshold, append survivors."""
    from kafkaconnect_spark.operators.pq_index import streaming_semdedup_transform

    if not p.get("index.dir"):
        raise SpecError("SemDeDupIndex requires index.dir")
    if not p.get("vector.store"):
        raise SpecError("SemDeDupIndex requires vector.store (true-vector table)")
    _check_survivors_key(p, "SemDeDupIndex")
    from kafkaconnect_spark.operators.pq_index import DEFAULT_MAX_CANDIDATE_PAIRS

    return streaming_semdedup_transform(
        index_dir=str(p["index.dir"]),
        vector_store=str(p["vector.store"]),
        threshold=float(p.get("threshold", "0.95")),
        id_field=p.get("id.field", "vec_id"),
        vec_field=p.get("vec.field", "embedding"),
        n_probe=int(p.get("n.probe", "2")),
        rerank=int(p.get("rerank", "30")),
        max_candidate_pairs=int(
            p.get("max.candidate.pairs", str(DEFAULT_MAX_CANDIDATE_PAIRS))
        ),
    )


def _build_fingerprint_dedup_index(p: dict[str, str]) -> Transform:
    """Streaming fingerprint dedup against the persisted Hamming index
    (operators/hamming_index.streaming_fingerprint_dedup_transform):
    drop records whose fixed-width fingerprint (carried in
    ``hash.field``, or a 64-bit SimHash derived from ``text.field``)
    lands within max_hamming of the index, append survivors."""
    from kafkaconnect_spark.operators.hamming_index import (
        streaming_fingerprint_dedup_transform,
    )

    if not p.get("index.dir"):
        raise SpecError("FingerprintDedupIndex requires index.dir")
    _check_survivors_key(p, "FingerprintDedupIndex")
    if bool(p.get("hash.field")) == bool(p.get("text.field")):
        raise SpecError(
            "FingerprintDedupIndex requires exactly one of "
            "hash.field / text.field"
        )
    fb = p.get("fallback.index")
    if fb is not None and str(fb).lower() != "minhash":
        raise SpecError(
            f"FingerprintDedupIndex fallback.index={fb!r} unsupported; "
            "the only wired fallback is 'minhash' (an lsh_index dir "
            "in fallback.index.dir)"
        )
    if fb is not None and not p.get("fallback.index.dir"):
        raise SpecError(
            "FingerprintDedupIndex fallback.index=minhash requires "
            "fallback.index.dir"
        )
    mh = p.get("max.hamming")
    kw: dict = {}
    if "hot.df.cap" in p:
        cap = p["hot.df.cap"]
        kw["hot_df_cap"] = (
            None if str(cap).lower() in ("none", "") else int(cap)
        )
    if "max.hot.pairs" in p:
        kw["max_hot_pairs"] = int(p["max.hot.pairs"])
    if "hot.route.min.pairs" in p:
        kw["hot_route_min_pairs"] = int(p["hot.route.min.pairs"])
    return streaming_fingerprint_dedup_transform(
        index_dir=str(p["index.dir"]),
        id_field=p.get("id.field", "doc_id"),
        hash_field=p.get("hash.field"),
        text_field=p.get("text.field"),
        max_hamming=int(mh) if mh is not None else None,
        fallback_index_dir=(
            str(p["fallback.index.dir"]) if fb is not None else None
        ),
        **kw,
    )


def _build_filter(p: dict[str, str]) -> Transform:
    return filter_records(
        predicate=p.get("predicate", ""),
        pattern=p.get("pattern"),
        negate=str(p.get("negate", "false")).lower() == "true",
    )


TRANSFORM_REGISTRY: dict[str, Callable[[dict[str, str]], Transform]] = {
    "ValueToKey": _build_value_to_key,
    "ExtractField$Key": _build_extract_key,
    "ExtractField$Value": _build_extract_value,
    "ExtractNewRecordState": _build_unwrap,
    "RegexRouter": _build_router,
    "TimestampConverter$Value": _build_ts_converter,
    "PythonFunction": _build_python_function,
    "DedupIndex": _build_dedup_index,
    "SemDeDupIndex": _build_semdedup_index,
    "FingerprintDedupIndex": _build_fingerprint_dedup_index,
    # standard Connect set beyond the reference's labs
    "InsertField$Value": _build_insert_field,
    "ReplaceField$Value": _build_replace_field,
    "MaskField$Value": _build_mask_field,
    "Cast$Value": _build_cast,
    "HoistField$Value": _build_hoist,
    "Flatten$Value": _build_flatten,
    "TimestampRouter": _build_ts_router,
    "Filter": _build_filter,
}


def build_transform_chain(transforms: list[TransformSpec]) -> Transform:
    """Compose the spec's SMT chain in declared order
    (chain ordering semantics: 실습수행/JDBC Source Connector 실습.md:445)."""
    built: list[Transform] = []
    for t in transforms:
        builder = TRANSFORM_REGISTRY.get(t.short_type)
        if builder is None:
            raise SpecError(f"unknown transform type {t.type!r}")
        built.append(builder(t.params))

    def _apply(df: DataFrame) -> DataFrame:
        for fn in built:
            df = fn(df)
        return df

    return _apply
