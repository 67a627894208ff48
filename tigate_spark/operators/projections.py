"""Projection / transform operators P1–P7 (SURVEY §2.4).

All built-in column expressions (column pruning + codegen apply).

Reference parity:
- P1 column selector   ``pkg/common/columnselector/column_selector.go:23-101``
- P2 updated-cols only ``pkg/config/sink.go:160``; ``codec/open/codec.go:56-72``
- P3 handle-key-only   ``pkg/config/sink.go:162-163``; ``open/codec.go:43-48``
- P4 type rendering    ``pkg/common/helper.go:19-80`` (FormatColVal)
- P6 update split      ``mounter.go:80-109``; ``dml_event.go:100-104``
- P7 checksum          ``pkg/sink/codec/common/verify_checksum.go``
"""

from __future__ import annotations

import fnmatch

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tigate_spark.config import ColumnSelector

#: metadata columns that survive any column selection
META_COLS = ("schema_name", "table_name", "table_id", "op",
             "start_ts", "commit_ts", "seq", "pk")


def column_selected(name: str, patterns: list[str]) -> bool:
    """Column-filter semantics of the reference's rule.Columns — TiDB
    ``util/table-filter.ParseColumnFilter`` (``column_selector.go:52``):
    rules apply in order and the LAST matching rule wins; a ``!`` prefix
    negates; a LEADING negation implies an accept-all rule before it;
    matching is case-insensitive (SinkConfig.CaseSensitive defaults
    false). Positive-only rule sets degrade to the any-match behavior.

    An EMPTY rule list matches nothing — the reference's
    ParseColumnFilter folds rules over a ``false`` start, so zero rules
    select zero columns (``ColumnSelector`` defaults ``columns=['*']``
    and rejects ``[]`` at construction, keeping this branch for direct
    callers only)."""
    if not patterns:
        return False
    pats = list(patterns)
    if pats[0].startswith("!"):
        pats = ["*"] + pats
    low = name.lower()
    selected = False
    for p in pats:
        neg = p.startswith("!")
        body = (p[1:] if neg else p).lower()
        if fnmatch.fnmatch(low, body):
            selected = not neg
    return selected


def column_selector(df: DataFrame, selector: ColumnSelector) -> DataFrame:
    """P1: keep only selected payload columns (+ change metadata)."""
    keep: list[str] = []
    for c in df.columns:
        if c in META_COLS:
            keep.append(c)
            continue
        if column_selected(c, selector.columns):
            keep.append(c)
    return df.select(*keep)


def _table_match_cond(rule: ColumnSelector):
    """Column condition: does this row's (schema, table) match the
    rule's ``db.table`` matcher list (``column_selector.go:63-65``
    MatchTable; fnmatch wildcards like the filter rules)."""
    qualified = F.concat(F.col("schema_name"), F.lit("."),
                         F.col("table_name"))
    cond = F.lit(False)
    for pat in rule.matcher:
        # fnmatch.translate only appends \Z and Spark rlike is substring
        # (find) matching — prepend ^ so 'app.t1' can't match 'webapp.t1'
        # (the filters.py:39-41 idiom; the reference's filter.MatchTable
        # is fully anchored per schema/table component)
        cond = cond | qualified.rlike("^" + fnmatch.translate(pat))
    return cond


#: above this rule count the dispatch form switches to the folded plan:
#: the nested per-column CASE chains are measured whole-stage through
#: 300 rules x 45 columns (tools/probe_selector_codegen.py), but at
#: ~400 rules the DRIVER dies in Column-node conversion with a
#: StackOverflowError (analysis recursion over the O(rules)-deep when
#: tree, not janino) — the folded form keeps every tree WIDE instead
#: of deep, so it has no rule-count ceiling
FOLD_RULE_THRESHOLD = 300


def _folded_rule_idx(rules: list[ColumnSelector]):
    """Index of the FIRST rule whose table matcher matches this row's
    (schema, table), NULL when none does — built as ONE coalesce over
    n_rules when-children (a single wide node; nesting the whens
    instead recurses the analyzer n_rules deep)."""
    whens = [F.when(_table_match_cond(r), F.lit(i))
             for i, r in enumerate(rules)]
    return whens[0] if len(whens) == 1 else F.coalesce(*whens)


def _column_selectors_folded(df: DataFrame,
                             rules: list[ColumnSelector]) -> DataFrame:
    """Wide-rule-set form of :func:`column_selectors` (same semantics,
    pinned hash-equal in ``tests/test_partition_table.py::
    test_column_selectors_folded_form_hash_equal``): the per-column
    rule outcome is pre-resolved DRIVER-side into a '0'/'1' mask string
    over rule indices (``column_selected`` is a pure function of the
    rule), so each column's projection is a single constant-depth
    lookup — ``substring(mask, rule_idx + 1, 1)`` — instead of an
    O(rules)-deep CASE chain. The row-dependent work (which rule
    matches) happens ONCE per row in ``_folded_rule_idx``, not once per
    column, so this form also evaluates n_cols× fewer matcher regexes
    at any width."""
    if not rules:
        return df  # no rule ever matches → DefaultColumnSelector for all
    dtypes = dict(df.dtypes)
    idx = F.col("_rule_idx")
    cols = []
    for c in df.columns:
        if c in META_COLS:
            cols.append(F.col(c))
            continue
        mask = "".join(
            "1" if column_selected(c, r.columns) else "0" for r in rules)
        keep = idx.isNull() | (
            F.substring(F.lit(mask), idx + F.lit(1), F.lit(1)) == "1")
        cols.append(
            F.when(keep, F.col(c))
            .otherwise(F.lit(None).cast(dtypes[c])).alias(c))
    return df.withColumn("_rule_idx", _folded_rule_idx(rules)) \
             .select(*cols)


def column_selectors(df: DataFrame,
                     rules: list[ColumnSelector],
                     fold: bool | None = None) -> DataFrame:
    """P1, full rule-dispatch form (``column_selector.go:74-101``
    ColumnSelectors + scenario ``kafka_column_selector``): the FIRST
    rule whose table matcher matches an event's (schema, table) decides
    its columns; rows matching no rule keep every column (the
    DefaultColumnSelector). Columns a matched rule deselects are
    NULLed (the relational rendering of "not encoded" — the frame
    stays one schema, the encoders' omit-null image builders drop
    them from the wire). Metadata/handle-key columns always survive,
    the reference's dispatch-ability precondition.

    ``fold``: None = auto (the measured-fast nested dispatch up to
    ``FOLD_RULE_THRESHOLD`` rules, the width-unbounded folded plan
    above it); True/False forces a form — the regression test drives
    both over the same frame and pins value equality."""
    if fold is None:
        fold = len(rules) > FOLD_RULE_THRESHOLD
    if fold:
        return _column_selectors_folded(df, rules)
    out = df
    for c in df.columns:
        if c in META_COLS:
            continue
        # fold rules LAST → FIRST so the first matching rule wins
        acc = F.col(c)  # no rule matched → DefaultColumnSelector keeps
        for rule in reversed(rules):
            selected = column_selected(c, rule.columns)
            acc = F.when(
                _table_match_cond(rule),
                F.col(c) if selected else F.lit(None).cast(
                    dict(df.dtypes)[c]),
            ).otherwise(acc)
        out = out.withColumn(c, acc)
    return out


def handle_key_only(df: DataFrame, threshold: int,
                    payload_col: str = "after") -> DataFrame:
    """P3: rows whose encoded payload exceeds ``threshold`` bytes are
    reduced to their handle key (pk) — payload nulled, flag set."""
    too_big = F.length(F.coalesce(F.col(payload_col), F.lit(""))) > threshold
    return df.withColumn("only_handle_key", too_big).withColumn(
        payload_col, F.when(too_big, F.lit(None)).otherwise(F.col(payload_col))
    )


def split_updates(df: DataFrame) -> DataFrame:
    """P6: U → (D with before-image) + (I with after-image); I/D pass through.

    Emitted delete sorts before the paired insert, matching the event-store
    key order D < U < I (``logservice/eventstore/format.go:78-85``).
    """
    pieces = F.when(
        F.col("op") == "U",
        F.array(
            F.struct(F.lit("D").alias("op2"), F.col("before").alias("image"),
                     F.lit(1).alias("piece")),
            F.struct(F.lit("I").alias("op2"), F.col("after").alias("image"),
                     F.lit(2).alias("piece")),
        ),
    ).otherwise(
        F.array(
            F.struct(
                F.col("op").alias("op2"),
                F.when(F.col("op") == "D", F.col("before")).otherwise(F.col("after")).alias("image"),
                F.lit(1).alias("piece"),
            )
        )
    )
    exploded = df.withColumn("piece", F.explode(pieces))
    return (
        exploded.withColumn("op_out", F.col("piece.op2"))
        .withColumn("image", F.col("piece.image"))
        .withColumn("piece_no", F.col("piece.piece"))
        .drop("piece", "op", "before", "after")
        .withColumnRenamed("op_out", "op")
    )


def split_updates_on_key_change(df: DataFrame,
                                key_json_path: str = "$.pk") -> DataFrame:
    """P6 sibling: split ONLY updates whose handle key changed.

    The reference's ``output-raw-change-event`` knob
    (``pkg/config/sink.go:457-462``; scenarios
    ``csv_storage_update_pk_clustered`` / ``_nonclustered`` /
    ``storage_csv_update``) defaults to splitting a pk/uk-changing
    UPDATE into DELETE(old key) + INSERT(new key) — a downstream
    applying the raw update would orphan the old-key row — while
    key-stable updates stay single events. Emitted delete sorts before
    the paired insert (``piece_no``), the event-store D < I order."""
    before_key = F.get_json_object(F.col("before"), key_json_path)
    after_key = F.get_json_object(F.col("after"), key_json_path)
    key_changed = (F.col("op") == "U") & (
        ~before_key.eqNullSafe(after_key))
    pieces = F.when(
        key_changed,
        F.array(
            F.struct(F.lit("D").alias("op2"),
                     F.col("before").alias("image"),
                     F.lit(1).alias("piece")),
            F.struct(F.lit("I").alias("op2"),
                     F.col("after").alias("image"),
                     F.lit(2).alias("piece")),
        ),
    ).otherwise(
        F.array(
            F.struct(
                F.col("op").alias("op2"),
                F.when(F.col("op") == "D", F.col("before"))
                .otherwise(F.col("after")).alias("image"),
                F.lit(1).alias("piece"),
            )
        )
    )
    exploded = df.withColumn("piece", F.explode(pieces))
    return (
        exploded.withColumn("op_out", F.col("piece.op2"))
        .withColumn("image", F.col("piece.image"))
        .withColumn("piece_no", F.col("piece.piece"))
        .drop("piece", "op")
        .withColumnRenamed("op_out", "op")
    )


def row_checksum(df: DataFrame, cols: list[str], out_col: str = "checksum") -> DataFrame:
    """P7: deterministic row integrity checksum (md5 of NUL-joined values;
    portable across engines)."""
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\\N")) for c in cols]
    return df.withColumn(out_col, F.md5(F.concat_ws("\x01", *parts)))


# --------------------------------------------------------------------------
# P7 byte-exact TiDB row checksum
# (``pkg/sink/codec/common/verify_checksum.go:92-229``): columns ordered by
# column id, each value appended to a byte buffer per its MySQL type —
# integers/enum/set/bit as little-endian uint64, float/double as the LE
# uint64 of the IEEE-754 float64 bits (NaN/Inf normalized to 0),
# string/blob/datetime/date/duration/decimal/json as LE uint32 length +
# UTF-8 bytes, NULL contributing nothing — folded through a running
# CRC-32/IEEE (``crc32.Update`` over per-column bufs == crc32 of the
# concatenation, so the whole row reduces to one JVM-side
# ``F.crc32(F.concat(...))``; zero Python in the path).
# --------------------------------------------------------------------------

def _byteswap(col, n_bytes: int):
    """bigint whose big-endian rendering equals `col`'s low n_bytes in
    LITTLE-endian order — pure shift/mask/or integer algebra (cheapest
    whole-stage-codegen shape; `reverse()` on binary is NOT byte-safe
    for non-UTF8 bytes, and per-byte substring concat was ~5x the
    expression weight). Arithmetic `shiftright` keeps sign bits, but
    `& 255` extracts the correct two's-complement byte regardless."""
    v = col.cast("bigint")
    out = None
    for i in range(n_bytes):
        b = F.shiftright(v, 8 * i).bitwiseAND(F.lit(255))
        part = F.shiftleft(b, 8 * (n_bytes - 1 - i))
        out = part if out is None else out.bitwiseOR(part)
    return out


def checksum_le64(col) -> "F.Column":
    """LE uint64 of a (signed) bigint — the byte-swapped value's hex IS
    the little-endian byte string (`binary.LittleEndian.AppendUint64`);
    `hex()` renders two's complement for negatives, lpad-16 covers the
    short positive renderings."""
    return F.unhex(F.lpad(F.hex(_byteswap(col, 8)), 16, "0"))


def checksum_len_bytes(col) -> "F.Column":
    """LE uint32 byte-length prefix + UTF-8 bytes (`appendLengthValue`)."""
    s = col.cast("string")
    return F.concat(
        F.unhex(F.lpad(F.hex(_byteswap(F.octet_length(s), 4)), 8, "0")),
        F.encode(s, "UTF-8"),
    )


def float64_bits(col) -> "F.Column":
    """bigint: the IEEE-754 bit pattern of a double (`math.Float64bits`),
    derived with EXACT arithmetic only — floor(log2) is corrected by
    power-of-two comparisons, then mantissa = (|v|/2^e - 1) * 2^52 which
    involves only exact power-of-two scaling and a Sterbenz subtraction.
    NaN/±Inf normalize to 0 per the reference; subnormals scale by
    2^537 twice (2^1074 overflows a double literal)."""
    v = col.cast("double")
    a = F.abs(v)
    e0 = F.floor(F.log2(a)).cast("bigint")
    e = (
        F.when(a < F.pow(F.lit(2.0), e0.cast("double")), e0 - 1)
        .when(a >= F.pow(F.lit(2.0), (e0 + 1).cast("double")), e0 + 1)
        .otherwise(e0)
    )
    mant = ((a / F.pow(F.lit(2.0), e.cast("double")) - 1.0)
            * F.lit(4503599627370496.0)).cast("bigint")
    normal = (e + F.lit(1023)).cast("bigint") * F.lit(4503599627370496) + mant
    sub = (a * F.pow(F.lit(2.0), F.lit(537.0))
           * F.pow(F.lit(2.0), F.lit(537.0))).cast("bigint")
    sign_off = F.when(v < 0, F.lit(-9223372036854775808)).otherwise(F.lit(0))
    return (
        F.when(F.isnan(v) | (a == F.lit(float("inf"))), F.lit(0))
        # -0.0: v < 0 is false, so detect via the string render (both
        # engines print '-0.0') — Float64bits(-0.0) is the sign bit alone
        .when(a == 0.0, F.when(v.cast("string") == "-0.0",
                               F.lit(-9223372036854775808)).otherwise(F.lit(0)))
        .when(a < F.pow(F.lit(2.0), F.lit(-1022.0)), sub + sign_off)
        .otherwise(normal + sign_off)
    ).cast("bigint")


#: MySQL type classes → encoder (the `buildChecksumBytes` switch). The
#: `timestamp` lane expects an already-UTC-rendered string: the engine's
#: sessions pin UTC, subsuming the reference's ConvertTimezone(ts, location).
_CHECKSUM_ENCODERS = {
    "int": checksum_le64,            # Tiny/Short/Int24/Long/Longlong/Year
    "enum": checksum_le64,           # Enum/Set: converted to index upstream
    "bit": checksum_le64,            # Bit: uint64 form
    "double": lambda c: checksum_le64(float64_bits(c)),  # Float/Double
    "string": checksum_len_bytes,    # Varchar/VarString/String/*Blob
    "datetime": checksum_len_bytes,  # Datetime/Date/Duration/NewDate
    "timestamp": checksum_len_bytes,
    "decimal": checksum_len_bytes,   # NewDecimal (decimalHandlingMode=string)
    "json": checksum_len_bytes,
}


def build_checksum_bytes(col, mysql_type: str) -> "F.Column":
    """binary: one column's checksum contribution; NULL appends nothing
    (`buildChecksumBytes` returns the buf unchanged for nil values)."""
    enc = _CHECKSUM_ENCODERS[mysql_type]
    return F.when(col.isNull(), F.lit(b"")).otherwise(enc(col))


def only_updated_old_image(before_col, after_col):
    """P2 old-image form: the before-image reduced to the columns whose
    value CHANGED (tiflow ``fillUpdateColumns`` under
    ``OnlyOutputUpdatedColumns``, ``pkg/config/sink.go:160``). The diff
    keeps each ORIGINAL before-image fragment so quoting/typing survive
    verbatim (the reference diffs typed columns — this is the same
    decision applied to the rendered image). Pure JVM column expressions.

    Fragment boundaries are lexer-grade for any VALID flat JSON object:
    a top-level comma is one followed by a complete JSON string (the
    next key, escapes honored) and a colon — a ``,"`` byte sequence
    INSIDE a value cannot match because an unescaped quote inside a
    valid JSON string is impossible, so the lookahead's string+colon
    requirement only holds at real key positions. Keys are assumed to
    need no JSON escaping (they are column identifiers at every call
    site); nested object/array values are out of scope (flat images).

    "Changed" = the before FRAGMENT (key + rendered value, byte-exact)
    does not appear among the after fragments. Comparing rendered
    fragments rather than ``from_json``-cast map values matters: the
    map cast is stringly — number ``0`` and string ``"0"`` both cast
    to ``'0'`` and would compare EQUAL, silently dropping a
    type-changing update from the old image (hypothesis-found in r17;
    images rendered from a typed schema are type-stable, but the diff
    must not depend on that invariant to be correct)."""
    kept = _changed_fragments(before_col, after_col)
    return F.concat(F.lit("{"), F.array_join(kept, ","), F.lit("}"))


#: lexer-grade top-level fragment boundary for a flat compact JSON
#: object: a comma followed by a complete JSON string (the next key,
#: escapes honored) and a colon — shared by BOTH image-diff operators
#: so the boundary can never drift between them
_FRAG_BOUNDARY = ',(?="(?:[^"\\\\]|\\\\.)*"\\s*:)'
_FRAG_KEY = '^"((?:[^"\\\\]|\\\\.)*)"'


def _image_fragments(col):
    """``'{"k":v,...}'`` → array of its top-level ``"k":v`` fragments
    (empty object → empty array, not ``['']``)."""
    frags = F.split(F.regexp_replace(col, r"^\{|\}$", ""), _FRAG_BOUNDARY)
    return F.filter(frags, lambda fr: fr != "")


def _changed_fragments(before_col, after_col):
    """Before fragments (byte-exact) absent from the after image."""
    afrags = _image_fragments(after_col)
    return F.filter(_image_fragments(before_col),
                    lambda fr: ~F.array_contains(afrags, fr))


def tidb_row_checksum(lanes: list[tuple["F.Column", str]]) -> "F.Column":
    """bigint: `calculateChecksum` — CRC-32/IEEE over the per-column byte
    encodings in column-id order (the order of `lanes`)."""
    return F.crc32(F.concat(*[build_checksum_bytes(c, t) for c, t in lanes]))


def updated_columns_projection(df: DataFrame) -> DataFrame:
    """P2: only-updated-columns — for update rows, emit just the column
    names whose value changed between the before and after images
    (``pkg/config/sink.go:160``; open-codec ``open/codec.go:56-72`` drops
    unchanged columns from the ``old`` image).

    The images are JSON; the diff is JVM-side over the RENDERED
    fragments (the same lexer-grade boundaries and byte-exact
    comparison as :func:`only_updated_old_image` — the earlier
    ``from_json``+``map_filter`` form was stringly, so number ``0`` vs
    string ``"0"`` compared equal, and its non-null-safe ``!=``
    silently dropped null-valued before keys from the diff), no
    Python."""
    from pyspark.sql import functions as F

    changed = F.array_sort(F.transform(
        _changed_fragments(F.col("before"), F.col("after")),
        lambda fr: F.regexp_extract(fr, _FRAG_KEY, 1)))
    return (
        df.filter(F.col("op") == "U")
        .withColumn("changed_cols", changed)
        .withColumn("n_changed", F.size("changed_cols").cast("bigint"))
    )
