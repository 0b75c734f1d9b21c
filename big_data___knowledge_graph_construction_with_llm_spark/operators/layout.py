"""Data-layout management for the at-rest corpus.

The operators a 100 TB deployment runs BETWEEN pipelines, not inside
them — they decide how many bytes every later scan has to touch:

1. **Small files.** Streaming sinks and over-parallel writers leave
   thousands of KB-sized part files; each one costs a namenode/S3
   LIST + open + footer read per scan, and Spark packs them into
   read tasks no better than ``maxPartitionBytes`` lets it.
   → :func:`compact_table` (marker-last generation rewrite;
   :func:`maybe_compact_table` decides when).
2. **Scan selectivity.** Parquet keeps per-row-group min/max stats,
   and Spark's scan skips row groups whose stats exclude the pushed
   filter — but a corpus written in arrival order has near-full-range
   stats in every file, so a selective filter still reads everything.
   → :func:`write_clustered` (range-cluster on the filter column) and
   :func:`with_zorder` (multi-column interleaved clustering, so
   filters on ANY prefix-free subset of the clustered columns skip).
   Point lookups on HIGH-CARDINALITY columns (doc ids, content
   fingerprints) defeat both spans and clustering — a random value
   falls inside nearly every file's min/max — so generations can
   carry per-file BLOOM filters (``write_table(bloom_cols=)``): a
   ``_MANIFEST_BLOOM`` sidecar the pruned read consults to open only
   files that may hold the value.
3. **Verification.** Footer-stats truth, not vibes:
   :func:`clustering_stats` reads the parquet footers and reports the
   per-file min/max spans and how much they overlap.

The reference's only layout decision is one output subdir per source
format (``…AWS/ingestion/DataIngestionBatch.py:76,83,90,103``);
everything here is EXT surface mandated by the 100 TB north star.
Skip ratios are measured (scan-decoded rows via
:func:`decoded_scan_rows`, not plan text) in ``tests/test_layout.py``
and recorded per-round in BENCH_DETAIL.json's ``layout`` block
(``scripts/bench_scale.py:layout_experiment``).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data___knowledge_graph_construction_with_llm_spark import fsutil

def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int = 32,
    max_records_per_file: int | None = None,
) -> None:
    """Write parquet range-clustered on ``cluster_cols``: disjoint key
    ranges per output file (``repartitionByRange`` samples the key
    distribution, so skew still yields balanced files) and rows sorted
    within each, which tightens BOTH the per-file and the per-row-group
    footer stats. A pushed-down filter on the leading cluster column
    then skips every row group whose range excludes it — the measured
    effect is in ``tests/test_layout.py`` (scan-decoded rows,
    :func:`decoded_scan_rows`) and BENCH_DETAIL's ``layout`` block,
    not just the plan text. One
    shuffle to write, paid once; every selective scan afterwards reads
    ~``selectivity × total`` instead of ``total``. Complements
    ``sources.tabular.write_bucketed`` (join-key co-location): cluster
    for filters, bucket for joins."""
    writer = (
        df.repartitionByRange(n_files, *[F.col(c) for c in cluster_cols])
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
    )
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def _bucket_of(col: Column, boundaries: list[float]) -> Column:
    """Equal-frequency bucket id of ``col`` given its internal quantile
    cut points: the count of boundaries ≤ value, folded JVM-side over a
    literal array (no UDF, no join). NULL → bucket 0."""
    arr = F.array(*[F.lit(float(b)) for b in boundaries])
    v = col.cast("double")
    return F.coalesce(
        F.aggregate(
            arr,
            F.lit(0),
            lambda acc, b: acc + F.when(v >= b, 1).otherwise(0),
        ),
        F.lit(0),
    )


def zorder_key(buckets: list[Column], bits: int) -> Column:
    """Interleave ``bits`` low bits of each bucket column into one long
    (bit ``j`` of column ``c`` lands at position ``j*k + c``) — the
    Z-order curve: nearby (b0, b1, …) tuples get nearby keys, so
    clustering on the key keeps every interleaved column's footer spans
    narrow at once. Pure bit arithmetic, whole-stage-codegen friendly.
    ``bits * len(buckets)`` must stay under 64: past that, bits would
    land in the long's sign bit and silently break key ordering."""
    k = len(buckets)
    if bits * k > 63:
        raise ValueError(
            f"zorder_key: bits*columns = {bits}*{k} = {bits * k} > 63 "
            "overflows the long's sign bit; lower bits or drop columns"
        )
    terms = [
        F.shiftleft(F.shiftright(b.cast("long"), j).bitwiseAND(F.lit(1)), j * k + c)
        for c, b in enumerate(buckets)
        for j in range(bits)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


#: how many leading UTF-8 bytes of a string column feed its Z-order
#: bucket key: 7 bytes keep the unsigned value inside a long
_STR_PREFIX_BYTES = 7


def _string_order_key(col: Column) -> Column:
    """Order-preserving numeric key for a STRING column: the first 7
    UTF-8 bytes, right-padded (in hex, so variable lengths compare
    correctly) and read as one unsigned number — fits a long, and
    preserves Spark's binary string ordering, which matches parquet's
    UNSIGNED byte-wise string stats order, so footer min/max on the
    original string column stay meaningful after clustering. The key
    never INVERTS the binary order; it can only COLLIDE — strings
    whose first 7 bytes differ by trailing NULs alone ('' vs '\\x00')
    share a key, since zero-padding can't encode length — which merely
    co-buckets the pair. Strings
    sharing a 7-byte prefix collapse into one bucket —
    :func:`with_zorder` strips the column-wide common prefix first
    (URLs all starting ``https://``, zero-padded ids) so the 7 bytes
    land where the entropy is."""
    hexed = F.hex(F.substring(F.encode(col, "UTF-8"), 1, _STR_PREFIX_BYTES))
    return F.conv(
        F.rpad(hexed, 2 * _STR_PREFIX_BYTES, "0"), 16, 10
    ).cast("long")


def _common_prefix_len(a: str, b: str, cap: int = 256) -> int:
    """Length of the common prefix of two strings (capped). Because
    binary string order sorts by leading characters, the common prefix
    of a column's MIN and MAX is the common prefix of every value —
    one cheap agg discovers the stretch carrying no entropy."""
    n = min(len(a), len(b), cap)
    i = 0
    while i < n and a[i] == b[i]:
        i += 1
    return i


def with_zorder(
    df: DataFrame,
    cols: list[str],
    bits: int = 8,
    key_col: str = "_zkey",
    relative_error: float = 0.001,
) -> DataFrame:
    """Attach a Z-order key over ``cols``: per-column equal-frequency
    bucketing (``2**bits`` buckets from ``approxQuantile`` — skew-proof
    where equal-width ``width_bucket`` is not) + bit interleave. The
    quantile fetch is one bounded driver-side parameter collect (≤
    ``2**bits`` doubles per column — the centroids/prefix-totals
    pattern); bucketing + interleave are pure projections. Write the
    result with ``write_clustered(out, path, [key_col])`` and a filter
    on ANY of ``cols`` skips — the single-column cluster only serves
    its leading column.

    String columns encode order-preservingly through
    :func:`_string_order_key` — the column-wide common prefix (found
    from one min/max agg; zero-padded ids, URL schemes) is stripped
    first so the 7 key bytes land on the entropy — keeping their
    footer stats narrow too. Values sharing 7 bytes PAST the common
    prefix still collapse into one bucket (the documented residual
    limit). Other non-numeric types (timestamps work via their
    numeric cast) raise rather than silently mis-bucket."""
    if bits * len(cols) > 63:
        raise ValueError(
            f"with_zorder: bits*columns = {bits}*{len(cols)} ="
            f" {bits * len(cols)} > 63 overflows the long key;"
            " lower bits or drop columns"
        )
    m = (1 << bits) - 1
    qs = [i / (m + 1) for i in range(1, m + 1)]
    types = dict(df.dtypes)
    # ONE bounded agg finds every string column's entropy-free common
    # prefix (min/max pairs for all of them in a single scan — N string
    # columns must not cost N full-table aggregates)
    str_cols = [c for c in cols if types.get(c) == "string"]
    strips: dict[str, int] = {}
    if str_cols:
        row = df.agg(
            *[F.min(c).alias(f"_mn_{c}") for c in str_cols],
            *[F.max(c).alias(f"_mx_{c}") for c in str_cols],
        ).first()
        strips = {
            c: _common_prefix_len(row[f"_mn_{c}"] or "", row[f"_mx_{c}"] or "")
            for c in str_cols
        }
    keyed = df
    key_exprs: list[tuple[str, Column]] = []
    for i, c in enumerate(cols):
        if types.get(c) == "string":
            kc = f"__zstr{i}"
            strip = strips[c]
            expr = F.col(c)
            if strip:
                expr = expr.substr(F.lit(strip + 1), F.length(expr))
            keyed = keyed.withColumn(kc, _string_order_key(expr))
            key_exprs.append((kc, F.col(kc)))
        else:
            key_exprs.append((c, F.col(c)))
    buckets = []
    for name, expr in key_exprs:
        # bounded parameter fetch: <=2**bits cut points per column
        bounds = sorted(set(keyed.stat.approxQuantile(name, qs, relative_error)))
        buckets.append(_bucket_of(expr, bounds))
    out = keyed.withColumn(key_col, zorder_key(buckets, bits))
    return out.drop(*[n for n, _ in key_exprs if n.startswith("__zstr")])


def _resolve_table_generation(
    spark: SparkSession, root: str, retries: int = 5, wait_s: float = 0.2
) -> str | None:
    """``root/_CURRENT`` marker → committed generation dir — the same
    resolver shape as ``similarity.ensure_ivf_index``, plus a bounded
    retry: on HDFS/local a marker file EXISTS from create but fills at
    close, so a reader overlapping a committer's marker write can
    observe an empty (or torn) read. A marker that exists but resolves
    nowhere is therefore most often a commit in flight — transient by
    construction — and only after ``retries`` short waits is it called
    genuinely stale (names a vanished generation) and ``None``
    returned."""
    import time

    marker = f"{root}/_CURRENT"
    for attempt in range(retries):
        if not fsutil.exists(spark, marker):
            return None
        name = (fsutil.try_read_text(spark, marker) or "").strip()
        if name and fsutil.exists(spark, f"{root}/{name}/_COMPLETE"):
            return f"{root}/{name}"
        if attempt + 1 < retries:
            time.sleep(wait_s)
    return None


def current_table_path(spark: SparkSession, root: str) -> str:
    """The committed HEAD generation's DATA path under a generational
    table root. Raises if no generation has ever committed (or the
    marker names a vanished one). Note: a table with DELTA generations
    (incremental :func:`absorb_landing`) holds data across the head's
    ``_PARENT`` chain — full-table readers go through
    :func:`read_table`, which unions it; this path is the head member
    only."""
    gen = _resolve_table_generation(spark, root)
    if gen is None:
        raise ValueError(f"no committed table generation under {root!r}")
    return f"{gen}/data"


def _gen_chain(spark: SparkSession, root: str, gen_dir: str) -> list[str]:
    """The generation dir plus its transitive ``_PARENT`` ancestors
    (delta-absorb lineage), newest first — the ``similarity``
    ``_ivf_parent_chain`` shape. A broken link (parent GC'd despite
    chain protection, or never completed) raises rather than silently
    serving a partial table."""
    chain = [gen_dir]
    seen = {gen_dir.rsplit("/", 1)[-1]}
    cur = gen_dir
    while fsutil.exists(spark, f"{cur}/_PARENT"):
        parent = (fsutil.try_read_text(spark, f"{cur}/_PARENT") or "").strip()
        if not parent or parent in seen:
            raise ValueError(f"corrupt _PARENT chain under {root!r} at {cur!r}")
        pdir = f"{root}/{parent}"
        if not fsutil.exists(spark, f"{pdir}/_COMPLETE"):
            raise ValueError(
                f"table parent generation {parent!r} under {root!r} is"
                " missing or incomplete — the delta chain is broken (GC'd?)"
            )
        chain.append(pdir)
        seen.add(parent)
        cur = pdir
    return chain


#: dtypes whose min/max are recorded in the generation manifest —
#: orderable atomics whose bounds survive a JSON round-trip with the
#: SAME ordering Spark's comparisons use (ISO strings for temporals
#: compare lexicographically = chronologically)
_MANIFEST_STAT_PREFIXES = (
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "decimal", "string", "date", "timestamp", "boolean",
)


def _epoch_micros(aware) -> int:
    """Exact UTC epoch microseconds of a tz-AWARE datetime (integer
    timedelta division — no float round-trip)."""
    import datetime as _dt

    epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
    return (aware - epoch) // _dt.timedelta(microseconds=1)


def _json_bound(v, side: str, dtype: str | None = None):
    """A manifest-safe JSON value for a min/max bound, CONSERVATIVE
    under the round-trip: exact types (int/str/bool) pass through;
    dates become ISO strings (lexicographic order = their order);
    Decimal/float bounds are floats WIDENED one ULP outward
    (``nextafter`` toward -inf for a min, +inf for a max) so a lossy
    nearest-rounding can never narrow a file's span and prune a file
    that held a matching row. TIMESTAMPS become UTC epoch-micros
    INTS, never naive ISO strings — a session/driver timezone that
    differs between manifest write and pruned read must not flip a
    lexicographic comparison (ADVICE r10): collected ``timestamp``
    values are OS-local naive (PySpark's ``fromtimestamp``), so
    ``astimezone(utc)`` recovers the exact instant; ``timestamp_ntz``
    wall-clock values map through the fixed wall-as-UTC convention
    (both the write side and :func:`_query_bound` use it, so the
    mapping is consistent and monotonic). ``None`` for
    unrepresentable types — the column simply gets no stats entry."""
    import datetime as _dt
    import decimal
    import math

    if v is None or isinstance(v, bool) or isinstance(v, (int, str)):
        return v
    if isinstance(v, float):
        return v
    if isinstance(v, decimal.Decimal):
        f = float(v)
        return math.nextafter(f, -math.inf if side == "min" else math.inf)
    if isinstance(v, _dt.datetime):  # before date: datetime IS a date
        if v.tzinfo is not None:
            return _epoch_micros(v)
        if dtype == "timestamp_ntz":
            return _epoch_micros(v.replace(tzinfo=_dt.timezone.utc))
        # collected TimestampType values: OS-local naive, epoch-exact
        return _epoch_micros(v.astimezone(_dt.timezone.utc))
    if isinstance(v, _dt.date):
        return v.isoformat()
    return None


def _query_bound(val, side: str, dtype: str | None, session_tz: str | None):
    """The query-side twin of :func:`_json_bound`: coerce a predicate
    value to the manifest's bound representation for column ``dtype``.
    Timestamp columns compare as UTC epoch micros — tz-aware values
    convert exactly; NAIVE values are interpreted the way the residual
    filter's ``F.lit`` interprets them (verified: the driver's OS
    zone, NOT the session timezone), WIDENED outward across both DST
    folds so an ambiguous wall hour can never flip a comparison; for
    ``timestamp_ntz`` columns — whose residual comparison casts
    through the SESSION zone — the candidate set additionally covers
    the wall-as-UTC write convention and the session-zone reading, so
    the prune stays conservative under every interpretation. A
    datetime against a non-timestamp column returns ``None`` ⇒ keep."""
    import datetime as _dt

    if isinstance(val, _dt.datetime):
        t = dtype or ""
        if t.startswith("timestamp"):
            if val.tzinfo is not None:
                if t != "timestamp_ntz":
                    return _epoch_micros(val)
                # aware predicate on an NTZ column (ADVICE r10): the
                # residual compare casts the ntz wall through the
                # SESSION zone while the manifest stores wall-as-UTC —
                # cover the exact instant, the value's own wall under
                # the write convention, and the session-zone wall; an
                # unknown session zone can't be covered ⇒ keep
                if not session_tz:
                    return None
                try:
                    from zoneinfo import ZoneInfo

                    z = ZoneInfo(session_tz)
                except Exception:
                    return None
                cands = [
                    _epoch_micros(val),
                    _epoch_micros(val.replace(tzinfo=_dt.timezone.utc)),
                    _epoch_micros(
                        val.astimezone(z).replace(tzinfo=_dt.timezone.utc)
                    ),
                ]
                return min(cands) if side == "min" else max(cands)
            cands = [
                _epoch_micros(
                    val.replace(fold=f).astimezone(_dt.timezone.utc)
                )
                for f in (0, 1)
            ]
            if t == "timestamp_ntz":
                cands.append(
                    _epoch_micros(val.replace(tzinfo=_dt.timezone.utc))
                )
                if session_tz:
                    try:
                        from zoneinfo import ZoneInfo

                        z = ZoneInfo(session_tz)
                    except Exception:  # unknown zone: can't cover it
                        return None
                    cands += [
                        _epoch_micros(val.replace(tzinfo=z, fold=f))
                        for f in (0, 1)
                    ]
            return min(cands) if side == "min" else max(cands)
        return None
    return _json_bound(val, side, dtype)


#: per-generation file count up to which the per-file manifest entries
#: inline into the root ``_MANIFEST`` JSON (one driver-side read prunes
#: everything); above it they live in the ``_MANIFEST_FILES`` parquet
#: sidecar and the root holds only O(dirs) directory-level aggregates —
#: a 10^6-file generation must not become a multi-hundred-MB driver
#: object (VERDICT r9 #1)
_MANIFEST_INLINE_MAX = 4096

#: when at least this fraction of a directory's files survives
#: file-level pruning, the whole DIRECTORY path goes to the reader
#: instead of each file (one LIST beats 10^5 explicit path args)
_WHOLE_DIR_FRACTION = 0.9

#: hard cap on explicit per-file paths handed to the reader; past it
#: the partially-surviving dirs are promoted whole (conservative
#: superset — the residual filter still applies)
_MAX_EXPLICIT_PATHS = 100_000


def _dir_of(rel: str) -> str:
    """Relative dir of a relative file path ('' for the data root)."""
    i = rel.rfind("/")
    return rel[:i] if i >= 0 else ""


def _rel_from_uri(uri: Column) -> Column:
    """Path relative to the generation data dir from an
    ``input_file_name()``-style URI: percent-decode ONCE to recover the
    on-disk path (hive-escaped partition values like ``lang=pt%3ABR``
    appear double-encoded in the URI; a space is ``%20``) — the result
    must be what the filesystem can open. rel = decoded URI after the
    LAST ``/data/`` occurrence: the table root itself may contain
    ``/data/``, while nothing after the generation's data dir can
    (hive partition segments are ``k=v``, never a bare ``data``).
    ``url_decode`` is FORM decoding (``+`` → space), but these URIs
    keep literal ``+`` unencoded (percent-encoding only) — re-escape
    it first so the decode matches Python's ``unquote`` exactly."""
    return F.element_at(
        F.split(
            F.url_decode(F.regexp_replace(uri, r"\+", "%2B")),
            "/data/",
        ),
        -1,
    )


def _file_stat_aggs(cols: list[str]) -> list[Column]:
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for i, c in enumerate(cols):
        aggs += [F.min(c).alias(f"_mn{i}"), F.max(c).alias(f"_mx{i}")]
    return aggs


#: file count at or below which the footer harvest runs DRIVER-side
#: (a handful of local footer reads beats a Spark job's latency); above
#: it the file list distributes over executors via mapInPandas
_FOOTER_DRIVER_MAX = 32


def _portable_type(dtype: str) -> str:
    """The timezone-free Arrow wire type the footer-harvest job emits
    for a stats column of Spark ``dtype``: integers widen to bigint,
    floats to double, timestamps travel as UTC epoch-micros LONGS and
    everything temporal/decimal as canonical strings — so no value ever
    round-trips through pandas timestamp semantics, and the JVM-side
    cast back to the native type is exact."""
    if dtype in ("tinyint", "smallint", "int", "bigint") or dtype == "timestamp":
        return "bigint"
    if dtype in ("float", "double"):
        return "double"
    if dtype == "boolean":
        return "boolean"
    return "string"  # string, decimal(p,s), date, timestamp_ntz


def _portable_cast(col: Column, dtype: str) -> Column:
    """Exact JVM-side cast from the portable wire value back to the
    column's native Spark type (``timestamp_micros`` for timestamps —
    a string parse would re-enter session-timezone semantics)."""
    if dtype == "timestamp":
        return F.timestamp_micros(col)
    return col.cast(dtype)


def _portable_value(v, dtype: str):
    """Portable-encode a NATIVE min/max bound (comparisons happen in
    the native domain first — lexicographic decimal strings would order
    '12' < '9')."""
    if v is None:
        return None
    if dtype == "timestamp":
        return _epoch_micros(v)  # footer values are tz-aware UTC
    if dtype == "timestamp_ntz":
        return v.isoformat(sep=" ")
    if dtype == "date":
        return v.isoformat()
    if dtype.startswith("decimal"):
        return str(v)
    return v


def _native_partition_value(s: str, dtype: str, session_tz: str | None):
    """The NATIVE value of hive partition-dir segment value ``s`` (already
    percent-decoded) for a column of ``dtype``, mirroring Spark's own
    partition-value parsing; ``None`` when unparseable or the hive null
    sentinel — the file then carries no span for the column (keep)."""
    import datetime as _dt
    import decimal

    if s == "__HIVE_DEFAULT_PARTITION__":
        return None
    try:
        if dtype in ("tinyint", "smallint", "int", "bigint"):
            return int(s)
        if dtype in ("float", "double"):
            return float(s)
        if dtype == "boolean":
            return s.lower() == "true"
        if dtype == "string":
            return s
        if dtype == "date":
            return _dt.date.fromisoformat(s)
        if dtype.startswith("decimal"):
            return decimal.Decimal(s)
        if dtype == "timestamp_ntz":
            return _dt.datetime.fromisoformat(s)
        if dtype == "timestamp":
            # Spark parses partition timestamps in the SESSION zone
            if not session_tz:
                return None
            from zoneinfo import ZoneInfo

            wall = _dt.datetime.fromisoformat(s)
            if wall.tzinfo is None:
                z = ZoneInfo(session_tz)
                a = wall.replace(tzinfo=z, fold=0)
                b = wall.replace(tzinfo=z, fold=1)
                if a.utcoffset() != b.utcoffset():
                    return None  # DST-ambiguous wall: keep, don't guess
                wall = a
            return wall.astimezone(_dt.timezone.utc)
    except Exception:  # noqa: BLE001 - unparseable: no span, keep
        return None
    return None


def _footer_bounds_native(st, colschema, dtype: str):
    """NATIVE ``(min, max)`` of one row group's footer statistics for a
    column of Spark ``dtype``, or ``None`` when the footer can't prove
    an exact-typed span (INT96, NaN float bounds, nanos-unit timestamps
    — pyarrow's datetime would silently truncate the max DOWN — or any
    physical/logical shape we don't recognize). ``None`` ⇒ the file
    keeps on every predicate: strictly conservative. String bounds may
    be writer-truncated; parquet's BinaryTruncator keeps them OUTER
    bounds (prefix-min ≤ min, incremented max ≥ max), so they stay
    valid spans."""
    import datetime as _dt
    import decimal

    if colschema.physical_type == "INT96":
        return None  # deprecated type: statistics are unreliable
    if dtype in ("tinyint", "smallint", "int", "bigint"):
        lo, hi = st.min_raw, st.max_raw
        if isinstance(lo, int) and isinstance(hi, int):
            return lo, hi
        return None
    if dtype in ("float", "double"):
        lo, hi = st.min, st.max
        if lo != lo or hi != hi:  # NaN: parquet ordering is undefined
            return None
        return float(lo), float(hi)
    if dtype == "boolean":
        return bool(st.min), bool(st.max)
    if dtype.startswith("decimal"):
        scale = colschema.scale

        def dec(raw):
            if isinstance(raw, bytes):
                raw = int.from_bytes(raw, "big", signed=True)
            if not isinstance(raw, int):
                return None
            return decimal.Decimal(raw).scaleb(-scale)

        lo, hi = dec(st.min_raw), dec(st.max_raw)
        if lo is None or hi is None:
            return None
        return lo, hi
    if dtype == "string":
        lo, hi = st.min, st.max
        if isinstance(lo, str) and isinstance(hi, str):
            return lo, hi
        return None
    if dtype == "date":
        lo, hi = st.min, st.max
        if type(lo) is _dt.date and type(hi) is _dt.date:
            return lo, hi
        return None
    if dtype.startswith("timestamp"):
        if "nanoseconds" in str(colschema.logical_type):
            return None  # datetime truncation would NARROW the max
        lo, hi = st.min, st.max
        if not isinstance(lo, _dt.datetime) or not isinstance(hi, _dt.datetime):
            return None
        aware = lo.tzinfo is not None and hi.tzinfo is not None
        if dtype == "timestamp":
            return (lo, hi) if aware else None
        return None if aware else (lo, hi)  # timestamp_ntz: wall values
    return None


def _footer_file_spans(
    md, rel: str, cols: list[str], types: dict[str, str], session_tz: str | None
) -> dict[str, tuple]:
    """Per-column portable ``(min, max)`` spans of one parquet file from
    its FOOTER metadata only (plus hive partition-dir values for columns
    not stored in the file). A column missing from both, or with any
    row group whose statistics can't prove an exact span, gets no entry
    (⇒ keep). All-null row groups contribute nothing, matching
    ``F.min``/``F.max`` null semantics; an all-null FILE gets no entry,
    exactly like the scan-based writer's null aggregate."""
    from urllib.parse import unquote

    spans: dict[str, tuple] = {}
    parts = {}
    for seg in rel.split("/")[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            parts[k] = unquote(v)
    idx = {}
    if md.num_row_groups:
        rg0 = md.row_group(0)
        idx = {rg0.column(j).path_in_schema: j for j in range(rg0.num_columns)}
    for c in cols:
        t = types[c]
        if c in parts:
            v = _native_partition_value(parts[c], t, session_tz)
            if v is not None:
                pv = _portable_value(v, t)
                spans[c] = (pv, pv)
            continue
        j = idx.get(c)
        if j is None:
            continue  # absent column: no span, keep
        mn = mx = None
        ok = True
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            cc = rgm.column(j)
            st = cc.statistics
            if st is None or not st.has_min_max:
                if (
                    st is not None
                    and st.has_null_count
                    and st.null_count == rgm.num_rows
                ):
                    continue  # all-null row group: contributes nothing
                ok = False
                break
            lohi = _footer_bounds_native(st, md.schema.column(j), t)
            if lohi is None:
                ok = False
                break
            mn = lohi[0] if mn is None else min(mn, lohi[0])
            mx = lohi[1] if mx is None else max(mx, lohi[1])
        if ok and mn is not None:
            spans[c] = (_portable_value(mn, t), _portable_value(mx, t))
    return spans


def _footer_extract_fn(cols: list[str], types: dict[str, str], session_tz):
    """The (pickled) per-partition footer harvester: pandas frames of
    ``(file, _full)`` in, portable per-file stat rows out. Only parquet
    FOOTERS are read — no data pages decode. Zero-row files emit no row
    (the scan-based writer's groupBy had no group for them either)."""

    def extract(iterator):
        import pandas as pd
        import pyarrow.parquet as pq

        names = ["file", "_rows"] + [
            f"_m{s}{i}" for i in range(len(cols)) for s in ("n", "x")
        ]
        for pdf in iterator:
            out: dict[str, list] = {k: [] for k in names}
            for rel, full in zip(pdf["file"], pdf["_full"]):
                local = full[len("file:"):] if full.startswith("file:") else full
                md = pq.ParquetFile(local).metadata
                if md.num_rows == 0:
                    continue
                spans = _footer_file_spans(md, rel, cols, types, session_tz)
                out["file"].append(rel)
                out["_rows"].append(md.num_rows)
                for i, c in enumerate(cols):
                    s = spans.get(c)
                    out[f"_mn{i}"].append(None if s is None else s[0])
                    out[f"_mx{i}"].append(None if s is None else s[1])
            yield pd.DataFrame(
                {k: pd.Series(v, dtype=object) for k, v in out.items()}
            )

    return extract


def _footer_stats_frame(
    spark: SparkSession,
    data_path: str,
    listed: list[tuple[str, int]],
    cols: list[str],
    types: dict[str, str],
) -> DataFrame:
    """The per-file stats frame (``file``, ``_rows``, native-typed
    ``_mn{i}``/``_mx{i}``) harvested from parquet FOOTER metadata only —
    the scan-based aggregate's drop-in replacement, without its second
    full read of the generation (VERDICT r10 #2: 352.8s to manifest a
    50k-file generation whose prune then saves 0.46s). Small file lists
    harvest driver-side; larger ones distribute as one mapInPandas job
    over the listing. Relative paths come straight from the qualified
    listing, so no URI decode round-trip is involved."""
    fs, p = fsutil._fs(spark, data_path)
    root = fs.makeQualified(p).toString()
    rels = []
    for full, _sz in listed:
        if not full.startswith(root):
            raise ValueError(
                f"listed file {full!r} outside qualified root {root!r}"
            )
        rels.append((full[len(root) + 1:], full))
    session_tz = None
    try:
        session_tz = spark.conf.get("spark.sql.session.timeZone")
    except Exception:  # noqa: BLE001 - unset: partition ts spans drop
        pass
    extract = _footer_extract_fn(cols, types, session_tz)
    portable = ", ".join(
        f"_m{s}{i} {_portable_type(types[c])}"
        for i, c in enumerate(cols)
        for s in ("n", "x")
    )
    schema = "file string, _rows bigint" + (f", {portable}" if cols else "")
    if len(rels) <= _FOOTER_DRIVER_MAX:
        import pandas as pd

        pdf = pd.DataFrame(rels, columns=["file", "_full"])
        raw = spark.createDataFrame(list(extract([pdf])).pop(), schema=schema)
    else:
        n_tasks = max(1, min(len(rels), spark.sparkContext.defaultParallelism * 4))
        raw = (
            spark.createDataFrame(rels, "file string, _full string")
            .repartition(n_tasks)
            .mapInPandas(extract, schema)
        )
    exprs = [F.col("file"), F.col("_rows")]
    for i, c in enumerate(cols):
        for s in ("_mn", "_mx"):
            exprs.append(
                _portable_cast(F.col(f"{s}{i}"), types[c]).alias(f"{s}{i}")
            )
    return raw.select(*exprs)


def _dirs_from_file_entries(files: list[dict], cols: list[str]) -> list[dict]:
    """O(dirs) directory aggregates from per-file manifest entries:
    a dir carries a column's span only when EVERY member file does
    (else the dir level conservatively keeps)."""
    by_dir: dict[str, list[dict]] = {}
    for f in files:
        by_dir.setdefault(_dir_of(f["file"]), []).append(f)
    out = []
    for d in sorted(by_dir):
        members = by_dir[d]
        stats = {}
        for c in cols:
            spans = [f["stats"].get(c) for f in members]
            if all(s is not None for s in spans):
                stats[c] = [min(s[0] for s in spans), max(s[1] for s in spans)]
        out.append(
            {
                "dir": d,
                "n_files": len(members),
                "rows": sum(f["rows"] for f in members),
                "stats": stats,
            }
        )
    return out


def _write_manifest(
    spark: SparkSession,
    data_path: str,
    manifest_path: str,
    stats_cols: list[str] | None = None,
    inline_max: int | None = None,
    stats_source: str = "footer",
) -> dict:
    """Build and write a generation's ``_MANIFEST`` (version 2): the
    root JSON carries ``{version, columns, types, n_files, total_rows,
    dirs: [{dir, n_files, rows, stats}]}`` — O(partition dirs), so it
    stays a small driver object at ANY file count — plus either the
    per-file entries INLINE (``files: [{file, rows, stats}]``, when the
    generation has ≤ ``inline_max`` files: one driver read prunes
    everything, no Spark job) or a ``files_table`` pointer to the
    ``_MANIFEST_FILES`` parquet sidecar (written by Spark, never
    collected — the per-file stats keep their NATIVE column types
    there, so the file-level prune job compares exactly). File paths
    are RELATIVE to the data dir (hive partition dirs included, so the
    manifest survives a root move).

    ``stats_source='footer'`` (default) harvests row counts and
    min/max from parquet FOOTER metadata only — a tiny job over the
    file list, no data pages decoded, so committing a manifest costs
    O(files) metadata reads instead of a second full scan of the
    generation (VERDICT r10 #2). ``'scan'`` keeps the original one-
    aggregate-pass-over-the-data builder (grouped by
    ``input_file_name()``); the two are content-identical on every
    exactly-representable span (pinned in ``tests/test_layout.py``) —
    footer mode conservatively omits a span only where the footer
    can't prove one (e.g. NaN float bounds). Returns the root manifest
    dict."""
    import json

    df = spark.read.parquet(data_path)  # schema only: no action runs
    types = dict(df.dtypes)
    cols = (
        list(stats_cols)
        if stats_cols is not None
        else [
            c
            for c in df.columns
            if types[c].startswith(_MANIFEST_STAT_PREFIXES)
        ]
    )
    missing = [c for c in cols if c not in types]
    if missing:
        raise ValueError(f"manifest stats_cols absent from data: {missing}")
    if inline_max is None:
        inline_max = _MANIFEST_INLINE_MAX
    listed = fsutil.list_files(spark, data_path)
    n_files = len(listed)
    if stats_source == "footer":
        per_file = _footer_stats_frame(spark, data_path, listed, cols, types)
    elif stats_source == "scan":
        per_file = (
            df.groupBy(F.input_file_name().alias("_uri"))
            .agg(*_file_stat_aggs(cols))
            .withColumn("file", _rel_from_uri(F.col("_uri")))
            .drop("_uri")
        )
    else:
        raise ValueError(f"unknown stats_source {stats_source!r}")
    manifest: dict = {
        "version": 2,
        "columns": cols,
        "types": {c: types[c] for c in cols},
        "n_files": n_files,
    }
    if n_files <= inline_max:
        files = []
        for r in per_file.collect():
            stats = {}
            for i, c in enumerate(cols):
                mn = _json_bound(r[f"_mn{i}"], "min", types[c])
                mx = _json_bound(r[f"_mx{i}"], "max", types[c])
                if mn is not None and mx is not None:
                    stats[c] = [mn, mx]
            files.append(
                {"file": r["file"], "rows": int(r["_rows"]), "stats": stats}
            )
        files.sort(key=lambda f: f["file"])
        manifest["files"] = files
        manifest["dirs"] = _dirs_from_file_entries(files, cols)
        manifest["total_rows"] = sum(f["rows"] for f in files)
    else:
        # sidecar path: the per-file frame is NEVER collected
        sidecar = manifest_path + "_FILES"
        keyed = per_file.withColumn(
            "dir",
            F.when(
                F.col("file").contains("/"),
                F.expr(
                    "substring(file, 1,"
                    " length(file) - instr(reverse(file), '/'))"
                ),
            ).otherwise(F.lit("")),
        )
        out_cols = ["dir", "file", F.col("_rows").alias("rows")] + [
            c for i in range(len(cols)) for c in (f"_mn{i}", f"_mx{i}")
        ]
        n_out = max(1, -(-n_files // 500_000))
        (
            keyed.select(*out_cols)
            .repartition(n_out)
            .sortWithinPartitions("dir", "file")
            .write.mode("overwrite")
            .parquet(sidecar)
        )
        back = spark.read.parquet(sidecar)
        dir_aggs = [F.count(F.lit(1)).alias("_nf"), F.sum("rows").alias("_r")]
        for i in range(len(cols)):
            dir_aggs += [
                F.min(f"_mn{i}").alias(f"_mn{i}"),
                F.max(f"_mx{i}").alias(f"_mx{i}"),
                # a dir carries a span only when EVERY member file does
                # (same rule as _dirs_from_file_entries): a span-less
                # file could hold anything the dir bound would exclude
                F.count(f"_mn{i}").alias(f"_cn{i}"),
            ]
        dirs = []
        for r in back.groupBy("dir").agg(*dir_aggs).collect():
            stats = {}
            for i, c in enumerate(cols):
                if r[f"_cn{i}"] != r["_nf"]:
                    continue
                mn = _json_bound(r[f"_mn{i}"], "min", types[c])
                mx = _json_bound(r[f"_mx{i}"], "max", types[c])
                if mn is not None and mx is not None:
                    stats[c] = [mn, mx]
            dirs.append(
                {
                    "dir": r["dir"],
                    "n_files": int(r["_nf"]),
                    "rows": int(r["_r"]),
                    "stats": stats,
                }
            )
        dirs.sort(key=lambda d: d["dir"])
        manifest["dirs"] = dirs
        manifest["total_rows"] = sum(d["rows"] for d in dirs)
        manifest["files_table"] = "_MANIFEST_FILES"
    fsutil.write_text(spark, manifest_path, json.dumps(manifest))
    return manifest


#: sidecar parquet holding per-(file, column) bloom bitsets — the one
#: manifest artifact footer stats CANNOT supply: min/max spans are
#: useless against a point lookup on a high-cardinality column (a
#: random doc id or content fingerprint falls inside nearly every
#: file's span), while a per-file bloom excludes every file that
#: provably lacks the value before a single LIST or footer read
_BLOOM_TABLE = "_MANIFEST_BLOOM"

#: hard cap on one file's bloom size in BITS (2 MiB of bitset). A
#: 128 MB parquet file holds ~10^6-10^7 short rows; at the default 1%
#: fpp that is ~1.2-12 MB of bloom — past the cap the filter keeps
#: working but its false-positive rate degrades. Never a correctness
#: knob: a bloom can only KEEP extra files, the residual filter still
#: decides rows
_BLOOM_MAX_BITS = 1 << 24

#: Spark dtypes a manifest bloom can index: types with an exact
#: canonical byte form on both the executor build side and the driver
#: query side. Floats/timestamps/decimals are excluded — equality on
#: them is repr-unstable or timezone-entangled, and a near-miss hash
#: would silently never prune
_BLOOM_TYPES = ("tinyint", "smallint", "int", "bigint", "string", "binary")


def _bloom_sizing(max_rows: int, fpp: float) -> tuple[int, int]:
    """(m bits, k hashes) for the GENERATION-UNIFORM bloom, sized for
    the largest file's footer row count (distinct values ≤ rows, so the
    realized fpp is at most the target everywhere), m rounded up to
    whole 64-bit words so the bitset stores as ``array<bigint>``.
    Uniform (m, k) is what keeps the query side all-JVM: the driver
    hashes the predicate value ONCE into static (word, mask) tests
    instead of re-deriving positions per file."""
    n = max(1, int(max_rows))
    m = math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))
    m = min(max(m, 64), _BLOOM_MAX_BITS)
    m = (m + 63) // 64 * 64
    k = max(1, min(30, round(m / n * math.log(2))))
    return m, k


def _bloom_bytes(v, dtype: str):
    """Canonical bytes of a value for bloom hashing, or ``None`` when
    the value has no EXACT canonical form for the column type (the
    bloom is skipped for that predicate; span pruning still applies).
    Build and query MUST agree byte-for-byte: integers as decimal
    ASCII, strings as UTF-8, binary raw."""
    if v is None:
        return None
    if dtype in ("tinyint", "smallint", "int", "bigint"):
        if isinstance(v, bool):  # bool is an int subclass, not a match
            return None
        try:
            i = int(v)
        except (TypeError, ValueError):
            return None
        if i != v or not -(1 << 63) <= i < (1 << 63):
            return None
        return str(i).encode("ascii")
    if dtype == "string":
        return v.encode("utf-8") if isinstance(v, str) else None
    if dtype == "binary":
        return bytes(v) if isinstance(v, (bytes, bytearray)) else None
    return None


def _bloom_positions(data: bytes, m: int, k: int) -> list[int]:
    """The k bit positions of one value: double hashing over the md5
    digest's first two little-endian 32-bit words (h2 forced odd so the
    stride cycles all residues). Executors run this while building;
    the driver runs it once per predicate value while pruning."""
    import hashlib

    d = hashlib.md5(data).digest()
    h1 = int.from_bytes(d[:4], "little")
    h2 = int.from_bytes(d[4:8], "little") | 1
    return [(h1 + i * h2) % m for i in range(k)]


def _to_i64(u: int) -> int:
    """Reinterpret an unsigned 64-bit word as the signed long Spark's
    ``bigint`` stores (bit patterns identical)."""
    return u - (1 << 64) if u >= 1 << 63 else u


def _bloom_word_masks(data: bytes, m: int, k: int) -> dict[int, int]:
    """{word index: signed 64-bit mask} of the bits a member value must
    have set — k positions fold into ≤ k (word, mask) equality tests."""
    masks: dict[int, int] = {}
    for p in _bloom_positions(data, m, k):
        masks[p // 64] = masks.get(p // 64, 0) | 1 << p % 64
    return {w: _to_i64(u) for w, u in masks.items()}


def _bloom_build_fn(cols: list[str], types: dict[str, str], m: int, k: int):
    """The (pickled) per-file bloom builder for ``applyInPandas``: one
    input group = one data file's rows (bloomed columns only, column-
    pruned at the scan), one output row per column with the file's
    bitset as signed 64-bit words. Values dedupe through
    ``pd.unique`` first so repeated values hash once.

    ``types`` holds the TRANSPORT dtype of each column as it arrives
    here — integral columns are cast to their canonical decimal string
    on the JVM side BEFORE this function runs (see
    :func:`_write_manifest_blooms`), so an int64 column never rides
    pandas' nullable-int → float64 coercion, which silently rounds
    magnitudes above 2^53 and would build a bitset missing the true
    value's bits (a false NEGATIVE on read — the one thing a bloom
    must never do)."""

    def build(pdf):
        import pandas as pd

        words = m // 64
        out: dict[str, list] = {"dir": [], "file": [], "col": [], "bits": []}
        rel = pdf["_file"].iloc[0]
        d = _dir_of(rel)
        for c in cols:
            bits = [0] * words
            t = types[c]
            for v in pd.unique(pdf[c].dropna()):
                b = _bloom_bytes(v, t)
                if b is None:
                    continue
                for p in _bloom_positions(b, m, k):
                    bits[p // 64] |= 1 << p % 64
            out["dir"].append(d)
            out["file"].append(rel)
            out["col"].append(c)
            out["bits"].append([_to_i64(w) for w in bits])
        return pd.DataFrame(out)

    return build


def _write_manifest_blooms(
    spark: SparkSession,
    gen_dir: str,
    cols: list[str],
    fpp: float,
    manifest: dict,
) -> dict:
    """Build and write a generation's ``_MANIFEST_BLOOM`` sidecar;
    returns the root-manifest ``blooms`` entry
    ``{col: {m, k, fpp, dtype}}``. Costs one
    COLUMN-PRUNED scan of the bloomed columns — unlike min/max spans,
    membership cannot come from parquet footers, so this is an
    explicit opt-in priced at O(bloomed-column bytes), not O(table).
    Sizing is generation-uniform from the largest file's footer row
    count (already in the manifest — no extra pass).

    Integral columns are canonicalized JVM-side (``cast('string')`` —
    exact decimal, byte-identical to the read side's
    ``str(int(v)).encode()``) before crossing into pandas: Arrow hands
    an int64 column containing ANY null to pandas as float64, which
    rounds magnitudes above 2^53 — and 64-bit hash fingerprints, the
    feature's stated use case, routinely exceed 2^53. Hashing the
    mangled value would produce a bitset that provably-excludes a file
    containing the TRUE value: silent missing rows."""
    data = f"{gen_dir}/data"
    df = spark.read.parquet(data)
    all_types = dict(df.dtypes)
    bad = {c: all_types.get(c) for c in cols if all_types.get(c) not in _BLOOM_TYPES}
    if bad:
        raise ValueError(
            f"bloom columns must be integral/string/binary; got {bad}"
        )
    if "files" in manifest:
        max_rows = max((f["rows"] for f in manifest["files"]), default=1)
    else:
        sidecar = f"{gen_dir}/{manifest['files_table']}"
        max_rows = (
            spark.read.parquet(sidecar).agg(F.max("rows")).collect()[0][0]
            or 1
        )
    m, k = _bloom_sizing(max_rows, fpp)
    types = {c: all_types[c] for c in cols}
    _ints = ("tinyint", "smallint", "int", "bigint")
    proj = [
        (F.col(c).cast("string") if types[c] in _ints else F.col(c)).alias(c)
        for c in cols
    ]
    transport = {
        c: ("string" if types[c] in _ints else types[c]) for c in cols
    }
    n_out = max(1, -(-manifest["n_files"] // 250_000))
    (
        df.select(_rel_from_uri(F.input_file_name()).alias("_file"), *proj)
        .groupBy("_file")
        .applyInPandas(
            _bloom_build_fn(cols, transport, m, k),
            "dir string, file string, col string, bits array<bigint>",
        )
        .repartition(n_out, "col")
        .sortWithinPartitions("col", "dir", "file")
        .write.mode("overwrite")
        .parquet(f"{gen_dir}/{_BLOOM_TABLE}")
    )
    return {c: {"m": m, "k": k, "fpp": fpp, "dtype": types[c]} for c in cols}


def _bloom_pred_masks(preds: list[tuple], manifest: dict) -> list[tuple]:
    """``[(col, [word-mask dict per value])]`` for the predicates a
    manifest bloom can evaluate: equality/IN on a bloomed column whose
    every query value canonicalizes exactly (one non-canonical value —
    e.g. a float against an int column — could match rows a bloom
    test would wrongly exclude, so such predicates skip whole)."""
    blooms = manifest.get("blooms") or {}
    out = []
    for col, op, val in preds:
        ent = blooms.get(col)
        if ent is None or op not in ("==", "=", "in"):
            continue
        vals = list(val) if op == "in" else [val]
        if not vals:
            continue  # empty IN: the span test already excludes all
        bs = [_bloom_bytes(v, ent["dtype"]) for v in vals]
        if any(b is None for b in bs):
            continue
        out.append(
            (col, [_bloom_word_masks(b, ent["m"], ent["k"]) for b in bs])
        )
    return out


def _bloom_fail_cond(col: str, masks_per_value: list[dict]) -> Column:
    """Filter over the bloom sidecar selecting rows whose bitset
    PROVABLY excludes the predicate (no value passes all its word-mask
    tests). A null or too-short ``bits`` array makes the test NULL ⇒
    the row is NOT selected as failing ⇒ the file conservatively
    keeps (``F.get`` is 0-based and yields null out of range)."""
    any_pass = F.lit(False)
    for masks in masks_per_value:
        ok = F.lit(True)
        for w, mask in sorted(masks.items()):
            word = F.get(F.col("bits"), F.lit(w))
            ok = ok & (word.bitwiseAND(F.lit(mask)) == F.lit(mask))
        any_pass = any_pass | ok
    return (F.col("col") == F.lit(col)) & ~any_pass


def _bloom_excluded(
    spark: SparkSession,
    gen_dir: str,
    manifest: dict,
    preds: list[tuple],
    cache: dict | None = None,
) -> DataFrame | None:
    """The ``(dir, file)`` frame of files the ``_MANIFEST_BLOOM``
    sidecar PROVABLY excludes for ``preds``, or ``None`` when no
    predicate is bloom-evaluable (or the sidecar is unreadable —
    conservative keep). The job scans only the sidecar (KBs per file),
    never data. With an :func:`open_table` ``cache``, the sidecar frame
    is Spark-cached on first use so repeated point lookups re-scan
    memory, not files."""
    from functools import reduce
    from operator import or_

    marked = _bloom_pred_masks(preds, manifest)
    if not marked:
        return None
    try:
        if cache is not None:
            key = ("bloom", gen_dir)
            if key not in cache["bloom_frames"]:
                cache["bloom_frames"][key] = spark.read.parquet(
                    f"{gen_dir}/{_BLOOM_TABLE}"
                ).cache()
            b = cache["bloom_frames"][key]
        else:
            b = spark.read.parquet(f"{gen_dir}/{_BLOOM_TABLE}")
    except Exception:  # noqa: BLE001 - sidecar gone: keep all
        return None
    conds = [_bloom_fail_cond(c, mv) for c, mv in marked]
    return b.filter(reduce(or_, conds)).select("dir", "file").distinct()


def read_manifest(
    spark: SparkSession, root: str, generation: str | None = None
) -> dict | None:
    """The committed (or pinned) generation's ``_MANIFEST`` dict, or
    ``None`` when that generation predates manifests (written with
    ``manifest=False`` or by an older writer) — callers fall back to
    the bare-directory read."""
    import json

    gen = (
        f"{root}/{generation}"
        if generation is not None
        else _resolve_table_generation(spark, root)
    )
    if gen is None:
        raise ValueError(f"no committed table generation under {root!r}")
    text = fsutil.try_read_text(spark, f"{gen}/_MANIFEST")
    return json.loads(text) if text else None


#: predicate operators :func:`prune_manifest_files` understands
_PRUNE_OPS = ("==", "=", "<", "<=", ">", ">=", "in")


def _check_prune_preds(where) -> list[tuple]:
    preds = [where] if isinstance(where, tuple) else list(where)
    for col, op, _v in preds:
        if op not in _PRUNE_OPS:
            raise ValueError(
                f"unsupported prune op {op!r} on {col!r};"
                f" supported: {_PRUNE_OPS}"
            )
    return preds


def _span_may_match(
    stats: dict,
    col: str,
    op: str,
    val,
    dtype: str | None,
    session_tz: str | None,
) -> bool:
    """Conservative span test: True unless the recorded ``[min, max]``
    PROVABLY excludes the predicate (missing stats, unknown column,
    uninterpretable or cross-type query value ⇒ True). Null rows never
    match these predicates, so a span computed over non-null values
    prunes safely even when the file holds nulls."""
    span = stats.get(col)
    if span is None:
        return True
    mn, mx = span
    if op == "in":
        # keep if ANY member may fall inside the span
        return any(
            _span_may_match(stats, col, "==", v, dtype, session_tz)
            for v in val
        )
    # widen the query value in the direction that KEEPS more files,
    # mirroring the write-side widening (both are conservative)
    lo = _query_bound(val, "min", dtype, session_tz)
    hi = _query_bound(val, "max", dtype, session_tz)
    if lo is None or hi is None:
        return True
    try:
        if op in ("==", "="):
            return mn <= hi and lo <= mx
        if op == "<":
            return mn < hi
        if op == "<=":
            return mn <= hi
        if op == ">":
            return mx > lo
        return mx >= lo  # ">="
    except TypeError:  # cross-type comparison: can't prove exclusion
        return True


def prune_manifest_files(
    manifest: dict, where, session_tz: str | None = None
) -> list[str]:
    """The INLINE manifest files that MAY contain rows matching
    ``where`` — a list of ``(col, op, value)`` conjuncts (or one such
    tuple). Driver-side and conservative (see :func:`_span_may_match`).
    Timestamp predicates compare as UTC epoch micros:
    pass the Spark session timezone as ``session_tz`` so NAIVE
    datetime values localize the way the residual ``F.lit`` will
    (:func:`read_table` does); without it naive values conservatively
    keep. Raises for a sharded manifest whose file entries live in the
    ``_MANIFEST_FILES`` sidecar — use ``read_table(where=)`` (or
    :func:`_prune_plan`) there."""
    preds = _check_prune_preds(where)
    if "files" not in manifest:
        raise ValueError(
            "manifest stores its file entries in the _MANIFEST_FILES"
            " sidecar (files_table); prune via read_table(where=)"
        )
    types = manifest["types"]
    return [
        f["file"]
        for f in manifest["files"]
        if all(
            _span_may_match(f["stats"], c, op, v, types.get(c), session_tz)
            for c, op, v in preds
        )
    ]


def _sidecar_prune_cond(
    preds: list[tuple], stat_cols: list[str]
) -> Column:
    """The file-level prune predicate over the ``_MANIFEST_FILES``
    sidecar's NATIVE-typed ``_mn{i}``/``_mx{i}`` columns — exact
    comparisons, no JSON round-trip; null stats (all-null column in a
    file) conservatively keep via ``coalesce``."""
    idx = {c: i for i, c in enumerate(stat_cols)}
    cond = F.lit(True)
    for col, op, val in preds:
        if col not in idx:
            continue  # no stats for this column: cannot prune on it
        mn, mx = F.col(f"_mn{idx[col]}"), F.col(f"_mx{idx[col]}")
        if op == "in":
            c = F.lit(False)
            for v in val:
                c = c | ((mn <= F.lit(v)) & (F.lit(v) <= mx))
        elif op in ("==", "="):
            c = (mn <= F.lit(val)) & (F.lit(val) <= mx)
        elif op == "<":
            c = mn < F.lit(val)
        elif op == "<=":
            c = mn <= F.lit(val)
        elif op == ">":
            c = mx > F.lit(val)
        else:  # ">="
            c = mx >= F.lit(val)
        cond = cond & F.coalesce(c, F.lit(True))
    return cond


def _prune_plan(
    spark: SparkSession,
    manifest: dict,
    where,
    gen_dir: str,
    session_tz: str | None = None,
    cache: dict | None = None,
) -> dict:
    """The structured prune a selective :func:`read_table` executes:
    DIRECTORY-level spans (O(dirs), always driver-side) first, then
    file-level within the surviving dirs — inline entries walk in
    Python, sharded ones run one tiny Spark job over the
    ``_MANIFEST_FILES`` sidecar (pushdown-friendly: sorted by dir).
    Dirs where at least :data:`_WHOLE_DIR_FRACTION` of files survive
    are handed to the reader WHOLE (one path, one LIST — the residual
    filter covers the extra files), and the explicit path list is
    capped at :data:`_MAX_EXPLICIT_PATHS` by promoting partial dirs
    whole — the reader never receives an unbounded argument list.

    Returns ``{"all": <every file survived>, "dirs": [rel dirs passed
    whole], "files": [rel files passed explicitly], "kept_files":
    <file count the union covers>}``; empty dirs+files means provably
    no match."""
    preds = _check_prune_preds(where)
    types = manifest["types"]

    def keep(stats: dict) -> bool:
        return all(
            _span_may_match(stats, c, op, v, types.get(c), session_tz)
            for c, op, v in preds
        )

    dirs = manifest["dirs"]
    kept_dirs = [d for d in dirs if keep(d["stats"])]
    if not kept_dirs:
        return {"all": False, "dirs": [], "files": [], "kept_files": 0}
    nf = {d["dir"]: d["n_files"] for d in kept_dirs}

    # bloom exclusions (point lookups on high-cardinality columns the
    # span test can't prune): files the _MANIFEST_BLOOM sidecar proves
    # free of every equality value — None when no pred is bloomable
    excluded = _bloom_excluded(spark, gen_dir, manifest, preds, cache=cache)

    # file-level survivors per surviving dir
    by_dir: dict[str, list[str]] = {}
    if "files" in manifest:
        bloom_fail = (
            {r["file"] for r in excluded.collect()}
            if excluded is not None
            else set()
        )
        in_kept = set(nf)
        for f in manifest["files"]:
            d = _dir_of(f["file"])
            if (
                d in in_kept
                and f["file"] not in bloom_fail
                and keep(f["stats"])
            ):
                by_dir.setdefault(d, []).append(f["file"])
    else:
        sdf = spark.read.parquet(f"{gen_dir}/{manifest['files_table']}")
        if len(kept_dirs) < len(dirs):
            sdf = sdf.filter(F.col("dir").isin(list(nf)))
        surv = sdf.filter(
            _sidecar_prune_cond(preds, manifest["columns"])
        ).select("dir", "file")
        if excluded is not None:
            surv = surv.join(excluded, ["dir", "file"], "left_anti")
        surv = surv.persist()
        try:
            counts = {
                r["dir"]: r["n"]
                for r in surv.groupBy("dir").agg(
                    F.count(F.lit(1)).alias("n")
                ).collect()
            }
            partial = [
                d
                for d, n in counts.items()
                if n < _WHOLE_DIR_FRACTION * nf[d]
            ]
            n_explicit = sum(counts[d] for d in partial)
            if partial and n_explicit <= _MAX_EXPLICIT_PATHS:
                for r in surv.filter(F.col("dir").isin(partial)).collect():
                    by_dir.setdefault(r["dir"], []).append(r["file"])
            elif partial:  # cap: promote every partial dir whole
                partial = []
            for d, n in counts.items():
                if d not in partial:
                    by_dir[d] = None  # sentinel: whole dir
        finally:
            surv.unpersist()

    whole, files, kept_files = [], [], 0
    for d, members in sorted(by_dir.items()):
        if members is None or len(members) >= _WHOLE_DIR_FRACTION * nf[d]:
            whole.append(d)
            kept_files += nf[d]
        else:
            files += sorted(members)
            kept_files += len(members)
    if len(files) > _MAX_EXPLICIT_PATHS:  # inline-path cap, same rule
        promoted = sorted({_dir_of(f) for f in files})
        kept_files += sum(nf[d] for d in promoted) - len(files)
        whole, files = sorted(set(whole) | set(promoted)), []
    return {
        "all": kept_files >= manifest["n_files"],
        "dirs": whole,
        "files": files,
        "kept_files": kept_files,
    }


def _where_column(where) -> Column:
    """The residual Spark filter equivalent to a ``where`` spec — the
    pruned read still applies it exactly (the manifest only decides
    which FILES open; rows inside a kept file still filter)."""
    preds = [where] if isinstance(where, tuple) else list(where)
    ops = {
        "==": lambda c, v: c == v,
        "=": lambda c, v: c == v,
        "<": lambda c, v: c < v,
        "<=": lambda c, v: c <= v,
        ">": lambda c, v: c > v,
        ">=": lambda c, v: c >= v,
        "in": lambda c, v: c.isin(list(v)),
    }
    out = F.lit(True)
    for col, op, val in preds:
        v = val if op == "in" else F.lit(val)
        out = out & ops[op](F.col(col), v)
    return out


def read_table(
    spark: SparkSession,
    root: str,
    generation: str | None = None,
    where=None,
) -> DataFrame:
    """Read a generational table: the marker-committed generation by
    default, or a PINNED one by name (``generation=``) — time travel
    over generations that haven't been GC'd, e.g. to diff a compaction
    or re-clustering rewrite against its predecessor, or to keep a
    long-running reader on the snapshot it started with (the TOCTOU
    note on :func:`gc_table_generations` applies: pin only what the
    sweep's age threshold protects).

    ``where`` — ``(col, op, value)`` or a list of such conjuncts (ops:
    ``== = < <= > >= in``; ``in`` takes a value list) — turns the
    read MANIFEST-PRUNED: the generation's ``_MANIFEST`` (one small
    JSON read, O(partition dirs) however many files the generation
    holds) prunes DIRECTORY spans driver-side first, then file spans
    (inline for small generations; one tiny Spark job over the
    ``_MANIFEST_FILES`` sidecar for sharded ones), and the reader
    receives whole-directory paths wherever a dir survives (near-)
    intact — so neither the root manifest, the prune, nor the path
    argument list grows O(files) at a 10^5-10^6-file generation.
    Excluded files are never opened (no LIST, no footer read — at
    100 TB that metadata is the first wall a selective query hits),
    and the survivors still carry the exact residual filter so
    results are identical to ``read_table(...).filter(...)``.
    Timestamp predicates: tz-aware datetimes compare exactly; naive
    ones are interpreted in the current SESSION timezone (matching
    the residual ``F.lit``). Generations without a manifest fall back
    to the full read + filter."""
    if generation is not None:
        base = f"{root}/{generation}"
        if not fsutil.exists(spark, f"{base}/_COMPLETE"):
            raise ValueError(
                f"generation {generation!r} under {root!r} is absent or"
                " incomplete (GC'd, in-flight, or never committed)"
            )
    else:
        gen = _resolve_table_generation(spark, root)
        if gen is None:
            raise ValueError(f"no committed table generation under {root!r}")
        base = gen
    return _read_generation_pruned(spark, root, base, where)


class TableReader:
    """A snapshot-pinned serving handle over one table generation (and
    its ``_PARENT`` chain): :func:`open_table` resolves the marker,
    walks the chain, and loads every per-member constant ONCE — the
    manifest dicts, the data schemas, the tombstone frames — and
    Spark-caches each bloom sidecar on first use. ``read(where=)``
    then answers like :func:`read_table` with zero re-resolution: the
    point-lookup server shape (a BM25 query, a fingerprint probe),
    where per-call marker reads, manifest parses, and sidecar file
    scans would otherwise dominate the microseconds of actual data.

    The handle is a SNAPSHOT: writes committed after :func:`open_table`
    are not visible (re-open to advance), and the GC TOCTOU note on
    :func:`read_table`'s ``generation=`` applies — hold a handle only
    as long as the sweep's age threshold protects its generation.
    ``close()`` unpersists the cached sidecar frames."""

    def __init__(self, spark: SparkSession, root: str, base: str):
        self._spark, self._root, self._base = spark, root, base
        chain = _gen_chain(spark, root, base)
        self._cache: dict = {
            "chain": chain,
            "cols": {
                m: spark.read.parquet(f"{m}/data").columns for m in chain
            },
            "manifest": {
                m: read_manifest(spark, root, generation=m.rsplit("/", 1)[-1])
                for m in chain
            },
            "tomb": {m: _tombstone_frame(spark, m) for m in chain},
            "bloom_frames": {},
        }

    @property
    def generation(self) -> str:
        return self._base.rsplit("/", 1)[-1]

    def read(self, where=None) -> DataFrame:
        return _read_generation_pruned(
            self._spark, self._root, self._base, where, cache=self._cache
        )

    def close(self) -> None:
        for b in self._cache["bloom_frames"].values():
            try:
                b.unpersist()
            except Exception:  # noqa: BLE001 - best-effort cache release
                pass
        self._cache["bloom_frames"] = {}


def open_table(
    spark: SparkSession, root: str, generation: str | None = None
) -> TableReader:
    """Open a :class:`TableReader` on the committed generation (or a
    pinned one). See the class docstring for the snapshot/GC
    contract."""
    if generation is not None:
        base = f"{root}/{generation}"
        if not fsutil.exists(spark, f"{base}/_COMPLETE"):
            raise ValueError(
                f"generation {generation!r} under {root!r} is absent or"
                " incomplete (GC'd, in-flight, or never committed)"
            )
    else:
        gen = _resolve_table_generation(spark, root)
        if gen is None:
            raise ValueError(f"no committed table generation under {root!r}")
        base = gen
    return TableReader(spark, root, base)


def _read_one_member_pruned(
    spark: SparkSession, root: str, base: str, where, cache: dict | None = None
) -> DataFrame:
    """The manifest-pruned + residual-filtered read of ONE generation
    dir (no chain). ``cache`` is an :func:`open_table` handle's state:
    when present, the manifest comes from it instead of a re-read and
    the bloom sidecar frames persist across calls."""
    data = f"{base}/data"
    cond = _where_column(where)
    if cache is not None:
        manifest = cache["manifest"].get(base)
    else:
        manifest = read_manifest(
            spark, root, generation=base.rsplit("/", 1)[-1]
        )
    if manifest is None:  # pre-manifest generation: full read + filter
        return spark.read.parquet(data).filter(cond)
    plan = _prune_plan(
        spark,
        manifest,
        where,
        gen_dir=base,
        session_tz=spark.conf.get("spark.sql.session.timeZone", None),
        cache=cache,
    )
    if not plan["dirs"] and not plan["files"]:
        # no file can match: an empty frame with the table's schema
        # (schema from ONE footer via the normal reader, zero data rows)
        return spark.read.parquet(data).filter(F.lit(False))
    if plan["all"]:
        return spark.read.parquet(data).filter(cond)
    paths = [data if d == "" else f"{data}/{d}" for d in plan["dirs"]] + [
        f"{data}/{f}" for f in plan["files"]
    ]
    reader = spark.read.option("basePath", data)
    return reader.parquet(*paths).filter(cond)


def _tombstone_frame(
    spark: SparkSession, gen_dir: str
) -> tuple[str, DataFrame] | None:
    """A generation's tombstone set — ``(key column, keys frame)`` —
    or ``None`` when the generation carries no deletes."""
    col = fsutil.try_read_text(spark, f"{gen_dir}/_TOMBSTONE_KEY")
    if not col:
        return None
    return col.strip(), spark.read.parquet(f"{gen_dir}/tombstones")


def _read_generation_pruned(
    spark: SparkSession,
    root: str,
    base: str,
    where,
    cache: dict | None = None,
) -> DataFrame:
    """The full read of a generation INCLUDING its ``_PARENT`` delta
    chain — :func:`read_table` mechanics, shared with the ingest live
    view's generation leg. ``where=None`` reads every member whole;
    otherwise each member prunes through its OWN manifest and carries
    the residual filter.

    TOMBSTONES (:func:`delete_from_table` / :func:`upsert_table`): the
    chain walks newest-first, so each member anti-joins against the
    keys every DESCENDANT deleted — a tombstone hides rows that
    predate it, never rows written by its own generation (that is the
    upsert: new rows land WITH the tombstones that retire their old
    versions) or later ones (re-adding a deleted key is new data).
    Tombstone sets are small by design (GDPR lists, upsert batches)
    and broadcast; a chain with no tombstones pays nothing."""
    from functools import reduce

    chain = cache["chain"] if cache is not None else _gen_chain(spark, root, base)
    preds = _check_prune_preds(where) if where is not None else []
    parts = []
    tomb_col: str | None = None
    tomb_accum: DataFrame | None = None
    for m in chain:
        if where is None:
            frame = spark.read.parquet(f"{m}/data")
        else:
            mcols = (
                cache["cols"][m]
                if cache is not None
                else spark.read.parquet(f"{m}/data").columns
            )
            missing = [c for c, _op, _v in preds if c not in mcols]
            if not missing:
                frame = _read_one_member_pruned(
                    spark, root, m, where, cache=cache
                )
            elif missing == [_LINEAGE_COL]:
                # _lineage on a write_table-seeded parent a delta chained
                # onto: stamp the legacy lineage first, then the residual
                # filter
                p = spark.read.parquet(f"{m}/data")
                p = p.withColumn(_LINEAGE_COL, F.lit(_LEGACY_LINEAGE))
                frame = p.filter(_where_column(where))
            else:
                # a pred column this member truly lacks (schema-evolved
                # chain, ADVICE r10): after the union it reads as NULL,
                # and every supported prune op is null-rejecting, so the
                # member provably contributes no matching rows — an
                # empty same-schema frame keeps the union's shape
                # without an unresolved-column error
                frame = spark.read.parquet(f"{m}/data").filter(F.lit(False))
        if tomb_accum is not None and tomb_col in frame.columns:
            # rows a NEWER generation deleted; a member lacking the key
            # column unions it as NULL, which no deleted key equals
            frame = frame.join(F.broadcast(tomb_accum), tomb_col, "left_anti")
        parts.append(frame)
        tk = (
            cache["tomb"][m]
            if cache is not None
            else _tombstone_frame(spark, m)
        )
        if tk is not None:
            col, keys = tk
            if tomb_col is None:
                tomb_col = col
            elif col != tomb_col:
                raise ValueError(
                    f"mixed tombstone key columns in one chain under"
                    f" {root!r}: {tomb_col!r} vs {col!r} at {m!r}"
                )
            tomb_accum = (
                keys if tomb_accum is None else tomb_accum.unionByName(keys)
            )
    # a delta chained onto a parent without _lineage: its rows ARE
    # the legacy lineage (the _ingest_frames stamp, one level down);
    # any other schema asymmetry across deltas unions as nulls
    if any(_LINEAGE_COL in p.columns for p in parts):
        parts = [
            p
            if _LINEAGE_COL in p.columns
            else p.withColumn(_LINEAGE_COL, F.lit(_LEGACY_LINEAGE))
            for p in parts
        ]
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
    )


def _check_tombstone_key(
    spark: SparkSession, root: str, gen_dir: str, key_col: str
) -> None:
    """One table, ONE tombstone key column: mixing keys would make the
    anti-join semantics ambiguous (which identity does a delete
    retire?). Raises when any chain member already tombstones a
    different column."""
    for m in _gen_chain(spark, root, gen_dir):
        existing = fsutil.try_read_text(spark, f"{m}/_TOMBSTONE_KEY")
        if existing and existing.strip() != key_col:
            raise ValueError(
                f"table {root!r} already tombstones on"
                f" {existing.strip()!r}; cannot also delete by {key_col!r}"
            )


def delete_from_table(
    spark: SparkSession,
    root: str,
    key_col: str,
    keys=None,
    where=None,
) -> dict:
    """Row-level DELETE without rewriting the table: commit a DELTA
    generation whose ``tombstones/`` holds the deleted keys (and whose
    ``data`` is an empty schema-bearing file). Readers
    (:func:`read_table`, the ingest live view) anti-join every OLDER
    generation against the keys — at 100 TB a GDPR takedown of a few
    thousand doc ids is a small parquet write plus one broadcast
    anti-join per read, not a 100 TB rewrite. :func:`compact_table`
    MATERIALIZES the deletes (its source read applies tombstones, the
    rewrite carries none), after which :func:`gc_table_generations`
    eventually sweeps the tombstone delta — until then, pinned time
    travel to pre-delete generations still sees the rows, so size the
    GC age threshold to your retention obligations.

    ``keys`` is a DataFrame carrying ``key_col`` or a plain value
    list; ``where`` instead derives the keys from a (manifest+bloom)
    PRUNED read — ``delete_from_table(spark, root, "doc_id",
    where=("fp", "==", h))`` touches only the files that may hold the
    fingerprint. Rows added AFTER the delete (landing batches, later
    deltas) are new data and stay visible, which is also what makes
    :func:`upsert_table` exact. Like absorb/compact, serialize deletes
    per table root (DEPLOYMENT.md): concurrent marker flips are
    last-writer-wins and a lost delete is silent.

    Returns ``{"generation", "n_keys"}``; a provably-empty key set
    commits nothing and returns ``generation=None``."""
    if (keys is None) == (where is None):
        raise ValueError("exactly one of keys / where selects the rows")
    cur = _resolve_table_generation(spark, root)
    if cur is None:
        raise ValueError(f"no committed table generation under {root!r}")
    _check_tombstone_key(spark, root, cur, key_col)
    table = _read_generation_pruned(spark, root, cur, None)
    if key_col not in table.columns:
        raise ValueError(f"key column {key_col!r} absent from {root!r}")
    if where is not None:
        keys_df = read_table(spark, root, where=where).select(key_col)
    elif isinstance(keys, DataFrame):
        keys_df = keys.select(key_col)
    else:
        field = [f for f in table.schema.fields if f.name == key_col]
        from pyspark.sql.types import StructType

        keys_df = spark.createDataFrame(
            [(v,) for v in keys if v is not None], schema=StructType(field)
        )
    keys_df = keys_df.where(F.col(key_col).isNotNull()).distinct()
    n = keys_df.count()
    if n == 0:
        return {"generation": None, "n_keys": 0}
    empty = table.limit(0).coalesce(1)
    name = write_table(
        empty,
        root,
        parent=cur.rsplit("/", 1)[-1],
        tombstones=keys_df,
        tombstone_col=key_col,
    )
    return {"generation": name, "n_keys": n}


def upsert_table(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    key_col: str,
    bloom_cols: list[str] | None = None,
    bloom_fpp: float = 0.01,
) -> str:
    """MERGE-by-key without rewriting the table: commit ``df`` as a
    DELTA generation that also tombstones its own keys — older versions
    of every upserted row disappear from reads the instant the marker
    flips, the new rows land in the same commit, and untouched rows
    never move. The delta's manifest prunes like any other member;
    ``bloom_cols`` carries point-lookup skipping onto the new files.
    :func:`compact_table` folds the chain back to one parentless
    generation with the final row versions. Serialize with other
    writers per root (see :func:`delete_from_table`). Returns the
    generation name."""
    cur = _resolve_table_generation(spark, root)
    if cur is None:
        raise ValueError(f"no committed table generation under {root!r}")
    _check_tombstone_key(spark, root, cur, key_col)
    if key_col not in df.columns:
        raise ValueError(f"key column {key_col!r} absent from the upsert frame")
    return write_table(
        df,
        root,
        parent=cur.rsplit("/", 1)[-1],
        tombstones=df,
        tombstone_col=key_col,
        bloom_cols=bloom_cols,
        bloom_fpp=bloom_fpp,
    )


def table_tombstones(spark: SparkSession, root: str) -> list[dict]:
    """Census of the current chain's tombstone sets, newest first:
    ``{generation, key_col, n_keys}`` per carrying member — what a
    compaction would materialize."""
    cur = _resolve_table_generation(spark, root)
    if cur is None:
        raise ValueError(f"no committed table generation under {root!r}")
    out = []
    for m in _gen_chain(spark, root, cur):
        tk = _tombstone_frame(spark, m)
        if tk is not None:
            col, keys = tk
            out.append(
                {
                    "generation": m.rsplit("/", 1)[-1],
                    "key_col": col,
                    "n_keys": keys.count(),
                }
            )
    return out


def list_table_generations(spark: SparkSession, root: str) -> list[dict]:
    """Census of a table root's COMPLETE generations, newest first:
    ``{generation, mtime_ms, current}`` per entry — what time travel
    (:func:`read_table` ``generation=``) can still read, and what
    :func:`gc_table_generations` would consider. One directory
    listing; no data bytes."""
    current = _resolve_table_generation(spark, root, retries=1)
    cur_name = current.rsplit("/", 1)[-1] if current else None
    out = [
        {"generation": name, "mtime_ms": mtime, "current": name == cur_name}
        for name, mtime in fsutil.list_dir(spark, root)
        if name.startswith("gen-")
        and fsutil.exists(spark, f"{root}/{name}/_COMPLETE")
    ]
    return sorted(out, key=lambda g: (-g["mtime_ms"], g["generation"]))


def write_table(
    df: DataFrame,
    root: str,
    partition_by: list[str] | None = None,
    manifest: bool = True,
    stats_cols: list[str] | None = None,
    extra_files: dict[str, str] | None = None,
    parent: str | None = None,
    bloom_cols: list[str] | None = None,
    bloom_fpp: float = 0.01,
    tombstones: DataFrame | None = None,
    tombstone_col: str | None = None,
) -> str:
    """Write ``df`` as a NEW generation of the table at ``root`` and
    commit it MARKER-LAST: the generation dir
    ``root/gen-<id>/{data,_MANIFEST,_COMPLETE}`` goes fully to disk
    first, then the one-object ``root/_CURRENT`` marker write names it
    — no rename anywhere, so the protocol is identical on
    file:/hdfs:/s3a: (S3 has no atomic rename; a single small PUT is
    the commit point). Concurrent writers never touch the same files
    (each writes its own generation); whichever marker write lands
    last wins, and every reader resolves the marker to a COMPLETE
    generation either way. Returns the generation name. Losing/old
    generations are unreferenced — sweep them with
    :func:`gc_table_generations`.

    ``manifest=True`` (default) writes a per-generation ``_MANIFEST``
    (file → row count + per-column min/max, one JSON object) before
    ``_COMPLETE``, which :func:`read_table` ``where=`` prunes against
    so a selective scan never LISTs or footer-reads the excluded files
    — at 100 TB the metadata wall, not the data bytes, is what a bare
    directory read pays first. Costs one extra aggregate pass over the
    just-written generation (stats columns only; cap them with
    ``stats_cols`` — default: every atomic-typed column).

    ``extra_files`` (name → content) writes additional small protocol
    files INSIDE the generation dir, after the manifest and before
    ``_COMPLETE`` — i.e. covered by the same commit point (used by
    :func:`absorb_landing` for the ``_ABSORBED`` ledger). Names must
    not collide with the protocol's own (``_COMPLETE``/``_MANIFEST``)
    or land under ``data``.

    ``bloom_cols`` additionally writes per-file BLOOM filters for those
    columns into a ``_MANIFEST_BLOOM`` sidecar (integral/string/binary
    columns only; ``bloom_fpp`` is the per-file false-positive target,
    sized to the largest file). Min/max spans cannot prune a point
    lookup on a high-cardinality column — a random doc id or content
    fingerprint falls inside nearly every file's span — while the bloom
    lets ``read_table(where=("doc_id", "==", k))`` open only the files
    that may hold the value. Costs one column-pruned scan of the
    bloomed columns (membership can't come from footers); covered by
    the same ``_COMPLETE`` commit point as the manifest. The data
    write also enables parquet-NATIVE blooms (adaptive-sized) on the
    same columns, so pushed equality filters row-group-skip INSIDE
    the files the manifest bloom decides to open.

    ``tombstones`` + ``tombstone_col`` attach a row-level DELETE set to
    the generation: the distinct non-null values of ``tombstone_col``
    land in a ``tombstones/`` parquet dir (plus a ``_TOMBSTONE_KEY``
    marker naming the column), and chain readers hide matching rows in
    every ANCESTOR generation — this generation's own rows and later
    ones are untouched. Use through :func:`delete_from_table` /
    :func:`upsert_table`; covered by the same ``_COMPLETE`` commit
    point as the data.

    ``parent`` (a COMPLETE generation name under the same root) makes
    this a DELTA generation: its ``data`` holds only the new rows and
    a ``_PARENT`` file links the rest of the table — readers
    (:func:`read_table`) union the transitive chain, exactly the
    ``append_ivf_index`` shape. An incremental :func:`absorb_landing`
    writes these so absorbing a few micro-batches never rewrites the
    table; :func:`compact_table` folds the chain back to one
    parentless generation; :func:`gc_table_generations` protects the
    winner's whole chain."""
    import uuid

    spark = df.sparkSession
    name = f"gen-{uuid.uuid4().hex[:12]}"
    base = f"{root}/{name}"
    if parent is not None and not fsutil.exists(
        spark, f"{root}/{parent}/_COMPLETE"
    ):
        raise ValueError(
            f"write_table parent {parent!r} under {root!r} is absent or"
            " incomplete"
        )
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bloom_cols and not manifest:
        raise ValueError("bloom_cols requires manifest=True")
    if (tombstones is None) != (tombstone_col is None):
        raise ValueError("tombstones and tombstone_col come together")
    if tombstones is not None and tombstone_col not in tombstones.columns:
        raise ValueError(
            f"tombstone_col {tombstone_col!r} absent from the tombstones"
            f" frame (columns: {tombstones.columns})"
        )
    if bloom_cols:
        # parquet-NATIVE blooms on the same columns: row-group skipping
        # INSIDE the files the manifest bloom decides to open (the
        # parquet reader applies them to pushed equality filters).
        # Adaptive sizing fits the actual per-chunk NDV instead of the
        # 1 MB-per-chunk default (probed: +65 KB vs +1 MB at 5k rows)
        writer = writer.option("parquet.bloom.filter.adaptive.enabled", "true")
        for c in bloom_cols:
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
    writer.parquet(f"{base}/data")
    if manifest:
        man = _write_manifest(
            spark, f"{base}/data", f"{base}/_MANIFEST", stats_cols
        )
        if bloom_cols:
            import json

            man["blooms"] = _write_manifest_blooms(
                spark, base, list(bloom_cols), bloom_fpp, man
            )
            fsutil.write_text(spark, f"{base}/_MANIFEST", json.dumps(man))
    for fname, content in (extra_files or {}).items():
        if fname in (
            "_COMPLETE", "_MANIFEST", "_MANIFEST_FILES", "_MANIFEST_BLOOM",
            "_PARENT", "_TOMBSTONE_KEY", "tombstones", "data",
        ) or "/" in fname:
            raise ValueError(f"extra_files name {fname!r} collides with the protocol")
        fsutil.write_text(spark, f"{base}/{fname}", content)
    if tombstones is not None:
        (
            tombstones.select(tombstone_col)
            .where(F.col(tombstone_col).isNotNull())
            .distinct()
            .coalesce(8)
            .write.mode("overwrite")
            .parquet(f"{base}/tombstones")
        )
        fsutil.write_text(spark, f"{base}/_TOMBSTONE_KEY", tombstone_col)
    if parent is not None:
        fsutil.write_text(spark, f"{base}/_PARENT", parent)
    fsutil.write_text(spark, f"{base}/_COMPLETE", "")
    _commit_marker(spark, root, name)
    return name


def _commit_marker(spark: SparkSession, root: str, name: str) -> None:
    """The one-object ``_CURRENT`` commit write, with the ONLY
    swallowable failure distinguished from a genuine I/O error: a
    marker-write exception is tolerable iff a concurrent committer's
    COMPLETE generation is demonstrably current (last-marker-wins —
    our generation is complete and unreferenced, the table is fine).
    On permissions / disk-full / S3-throttle with NO winner, swallowing
    would return success while nothing committed — a first-ever write
    would leave the root unreadable with no error at write time — so
    the failure re-raises. The re-resolve's bounded retry also gives a
    concurrent winner mid-marker-write time to become observable."""
    try:
        fsutil.write_text(spark, f"{root}/_CURRENT", name)  # commit point
    except Exception:
        if _resolve_table_generation(spark, root) is None:
            raise  # genuine I/O failure: nothing is committed


def _census(
    spark: SparkSession, gen_dirs: list[str], target_file_bytes: int
) -> dict:
    """Leaf-file census of generation dirs' data — one recursive LIST
    each, no data bytes read: the numbers that decide whether a
    compaction is worth a rewrite (a file under half the target is
    "small")."""
    sizes = [
        sz for g in gen_dirs for _, sz in fsutil.list_files(spark, f"{g}/data")
    ]
    return {
        "n_files": len(sizes),
        "total_bytes": sum(sizes),
        "n_small_files": sum(1 for sz in sizes if sz < target_file_bytes / 2),
    }


def compact_table(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = 128 << 20,
    partition_by: list[str] | None = None,
    cluster_cols: list[str] | None = None,
    shuffle: bool = False,
    verify: bool = True,
    manifest: bool = True,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | str | None = "inherit",
    bloom_fpp: float = 0.01,
) -> dict:
    """Small-file compaction without a rename window: rewrite
    the CURRENT generation of the table at ``root`` into
    ~``target_file_bytes`` files as a NEW generation and commit it
    marker-last (:func:`write_table`). Readers resolving through
    :func:`read_table` never observe a missing or half-swapped
    directory — they see the old generation until the single marker
    write lands, then the new one; a concurrent compactor writes its
    own generation and the last marker wins (both are complete).
    Superseded generations stay on disk until
    :func:`gc_table_generations` (size its age threshold past reader
    lifetimes — same TOCTOU note as ``ensure_ivf_index``).

    ``cluster_cols`` makes the rewrite a RE-CLUSTERING maintenance
    pass (the table-format ``OPTIMIZE ... ZORDER BY`` shape): the new
    generation is range-partitioned and sorted on those columns
    (:func:`write_clustered` mechanics), so footer stats tighten and
    selective scans skip again after appends eroded the layout —
    pre-compute a Z-order key with :func:`with_zorder` and pass it
    here for multi-column filter sets. Mutually exclusive with
    ``partition_by``.

    Returns before/after :func:`_census` plus the new generation
    name and ``committed`` (False when the source generation was
    superseded mid-rewrite — e.g. a concurrent :func:`absorb_landing`
    committed new batches — or the marker write lost a race: the
    rewrite is left unreferenced rather than flipped over data it
    doesn't hold, and the scheduler retries; see the serialization
    note in DEPLOYMENT.md). ``verify=True`` recounts the rewrite
    before committing and deletes the attempt on mismatch, leaving
    the marker untouched."""
    if partition_by and cluster_cols:
        raise ValueError("compact_table: partition_by and cluster_cols are exclusive")
    cur = current_table_path(spark, root)
    gen_head = cur[: -len("/data")]
    chain = _gen_chain(spark, root, gen_head)
    before = _census(spark, chain, target_file_bytes)
    if before["n_files"] == 0:
        raise ValueError(f"compact_table: no data files under {cur!r}")
    n_out = max(1, math.ceil(before["total_bytes"] / target_file_bytes))
    # the rewrite source is the FULL chain union (incremental absorbs
    # chain delta generations onto the head): compacting is also the
    # fold that returns the table to one parentless generation
    df = _read_generation_pruned(spark, root, gen_head, None)
    if cluster_cols:
        out = df.repartitionByRange(
            n_out, *[F.col(c) for c in cluster_cols]
        ).sortWithinPartitions(*cluster_cols)
    elif partition_by:
        out = df.repartition(n_out, *partition_by)
    else:
        out = df.repartition(n_out) if shuffle else df.coalesce(n_out)

    import uuid

    name = f"gen-{uuid.uuid4().hex[:12]}"
    base = f"{root}/{name}"
    # bloom_cols="inherit" (default): a compaction must not strip the
    # point-lookup skipping the source generation had — rebuild blooms
    # for the HEAD manifest's bloomed columns (new files, new bitsets);
    # pass a list to change the set, None to drop. Resolved BEFORE the
    # data write so the parquet-native row-group blooms ride it too.
    if bloom_cols == "inherit":
        src_man = read_manifest(
            spark, root, generation=gen_head.rsplit("/", 1)[-1]
        )
        src_blooms = (src_man or {}).get("blooms") or {}
        bcols = sorted(src_blooms)
        fpp = min(
            (e["fpp"] for e in src_blooms.values()), default=bloom_fpp
        )
    else:
        bcols, fpp = list(bloom_cols or []), bloom_fpp
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bcols and manifest:
        writer = writer.option("parquet.bloom.filter.adaptive.enabled", "true")
        for c in bcols:
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
    writer.parquet(f"{base}/data")
    man = None
    if manifest:
        # the manifest's row totals double as the verify recount, so
        # manifest+verify together still cost ONE pass over the rewrite
        man = _write_manifest(
            spark, f"{base}/data", f"{base}/_MANIFEST", stats_cols
        )
        if bcols:
            import json

            man["blooms"] = _write_manifest_blooms(
                spark, base, bcols, fpp, man
            )
            fsutil.write_text(spark, f"{base}/_MANIFEST", json.dumps(man))
    if verify:
        n0 = df.count()
        n1 = (
            man["total_rows"]
            if man is not None
            else spark.read.parquet(f"{base}/data").count()
        )
        if n0 != n1:
            fsutil.delete(spark, base)
            raise RuntimeError(
                f"compact_table: rewrite row count {n1} != source {n0};"
                f" marker untouched, {cur!r} still current"
            )
    # carry the ingest ledger forward: compacting an ingest table's
    # generation must not forget which landing batches were absorbed —
    # a straggling/replayed landing partition of an absorbed batch
    # would otherwise be read TWICE by read_ingest_table
    ledger = fsutil.try_read_text(spark, f"{gen_head}/_ABSORBED")
    if ledger:
        fsutil.write_text(spark, f"{base}/_ABSORBED", ledger)
    fsutil.write_text(spark, f"{base}/_COMPLETE", "")
    # currency check before the flip: if the SOURCE generation is no
    # longer current (a concurrent absorb_landing committed new batches
    # — and possibly deleted their landing partitions — or another
    # writer landed), flipping the marker to this rewrite would make a
    # generation current that lacks those rows and their ledger
    # entries: data loss, not a lost race. Abort instead — the rewrite
    # stays unreferenced (gc_table_generations sweeps it) and the
    # report says not-committed so a scheduler retries. A commit
    # landing INSIDE the check-to-flip window remains possible
    # (DEPLOYMENT.md: serialize absorb/compact per root), but the
    # window shrinks from the whole rewrite to one marker write.
    src_name = gen_head.rsplit("/", 1)[-1]
    now_gen = _resolve_table_generation(spark, root)
    if now_gen is None or now_gen.rsplit("/", 1)[-1] != src_name:
        return {
            "before": before,
            "after": _census(spark, [base], target_file_bytes),
            "generation": name,
            "committed": False,
            "reason": "source generation superseded mid-rewrite;"
            " marker untouched, rewrite left unreferenced",
        }
    _commit_marker(spark, root, name)
    # "after" is THIS rewrite's generation, not a re-resolve of the
    # marker: a concurrent compactor may have flipped it (last marker
    # wins), and this report is about what this rewrite produced.
    # "committed" IS a re-resolve: False when our marker write lost.
    gen_after = _resolve_table_generation(spark, root)
    return {
        "before": before,
        "after": _census(spark, [base], target_file_bytes),
        "generation": name,
        "links_folded": len(chain),
        "committed": gen_after is not None
        and gen_after.rsplit("/", 1)[-1] == name,
    }


def maybe_compact_table(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = 128 << 20,
    min_small_files: int = 16,
    min_small_fraction: float = 0.5,
    min_chain_links: int = 4,
    **compact_kwargs,
) -> dict:
    """The maintenance-loop form of :func:`compact_table`: census the
    CURRENT generation chain (:func:`_census` — one recursive LIST per
    member, no data bytes) and rewrite only when
    fragmentation crosses the thresholds (at least ``min_small_files``
    undersized files AND they are at least ``min_small_fraction`` of
    all files) OR the incremental-absorb ``_PARENT`` chain has grown
    to ``min_chain_links`` members (every link costs readers one more
    LIST + union branch — the ``compact_ivf_chain`` gate, table
    edition). A scheduler can call this unconditionally on every table
    after every pipeline run — the no-op path costs one listing per
    chain member, so 'should we compact?' never needs a human. Returns
    ``{"compacted": False, "stats": census}`` on skip, else
    :func:`compact_table`'s report plus ``"compacted": True``."""
    head = current_table_path(spark, root)[: -len("/data")]
    chain = _gen_chain(spark, root, head)
    census = _census(spark, chain, target_file_bytes)
    census["chain_links"] = len(chain)
    small = census["n_small_files"]
    fragmented = small >= min_small_files and small >= min_small_fraction * max(
        census["n_files"], 1
    )
    if not fragmented and len(chain) < min_chain_links:
        return {"compacted": False, "stats": census}
    rep = compact_table(
        spark, root, target_file_bytes=target_file_bytes, **compact_kwargs
    )
    rep["compacted"] = True
    return rep


def gc_table_generations(
    spark: SparkSession, root: str, max_age_ms: int, now_ms: int | None = None
) -> list[str]:
    """Sweep superseded ``gen-*`` dirs under a generational table root:
    delete every generation older than ``max_age_ms`` that is neither
    the one the ``_CURRENT`` marker names NOR one of its transitive
    ``_PARENT`` ancestors (incremental-absorb delta chains — deleting
    a chain link would amputate the table's older data; the
    ``gc_ivf_attempts`` rule verbatim). The winner chain is protected
    unconditionally; the age threshold protects both in-flight writers
    that haven't reached their marker write and long-lived readers
    still lazily scanning a just-superseded generation (size it past
    the longest reader lifetime / rewrite cadence — the
    ``ensure_ivf_index`` sizing note applies verbatim). Returns the
    deleted generation names; ``now_ms`` injectable for tests."""
    import time

    now = int(time.time() * 1000) if now_ms is None else now_ms
    protected: set[str] = set()
    if fsutil.exists(spark, f"{root}/_CURRENT"):
        text = fsutil.try_read_text(spark, f"{root}/_CURRENT")
        if text is None or not text.strip():
            return []  # marker mid-write: a commit is in flight and
            # nothing would be protected — sweep on the next cadence
        winner = text.strip()
        protected.add(winner)
        try:
            protected.update(
                d.rsplit("/", 1)[-1]
                for d in _gen_chain(spark, root, f"{root}/{winner}")
            )
        except ValueError:
            return []  # chain unreadable mid-commit: skip this sweep
    deleted: list[str] = []
    for name, stamp in fsutil.list_dir(spark, root):
        if not name.startswith("gen-") or name in protected:
            continue
        if now - stamp > max_age_ms:
            fsutil.delete(spark, f"{root}/{name}")
            deleted.append(name)
    return sorted(deleted)


def decoded_scan_rows(df: DataFrame) -> int:
    """Execute ``df`` (projected to its first column, so the collect
    stays small) and return how many rows the file scan actually
    DECODED — i.e. what survived parquet row-group / page pruning under
    the pushed-down filter. This is the ground truth a layout change
    moves, read from the scan node's ``numOutputRows`` SQL metric after
    execution. Executor ``input_bytes`` cannot stand in for it:
    verified on this engine, local-filesystem parquet page reads go
    uncounted there (a full scan and a full-column aggregate both
    report only ~footer bytes), while the pushdown stats reads are
    counted — the metric moves the WRONG way. Used by
    ``tests/test_layout.py`` and the bench's layout block."""
    df = df.select(df.columns[0])
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()

    def walk(node):
        name = node.getClass().getSimpleName()
        if "AdaptiveSparkPlan" in name:
            try:
                yield from walk(node.executedPlan())
                return
            except Exception:
                pass
        yield node
        children = node.children()
        for i in range(children.size()):
            yield from walk(children.apply(i))

    total = 0
    for node in walk(plan):
        name = node.getClass().getSimpleName()
        if "FileSourceScan" in name or "BatchScan" in name:
            total += int(node.metrics().apply("numOutputRows").value())
    return total


def clustering_stats(path: str, column: str) -> dict:
    """Footer-stats truth for a clustered dataset: per-row-group
    min/max spans of ``column`` across every parquet file under
    ``path`` (pyarrow footer reads — no data pages touched), plus the
    sorted-span overlap fraction (adjacent spans that overlap / total
    adjacent pairs; ~0 = disjoint ranges = maximal skipping, ~1 =
    every file covers the full domain = no skipping). Local paths only
    (pyarrow does the footer IO); on a cluster run the same census as
    a small Spark job over ``input_file_name()``."""
    import os

    import pyarrow.parquet as pq

    local = path[len("file:"):] if path.startswith("file:") else path
    spans: list[tuple] = []
    paths = []
    if os.path.isdir(local):
        for root, _dirs, names in os.walk(local):
            paths += [
                os.path.join(root, n)
                for n in names
                if n.endswith(".parquet") and not n.startswith((".", "_"))
            ]
    else:
        paths = [local]
    for p in sorted(paths):
        md = pq.ParquetFile(p).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        if column not in idx:
            raise ValueError(f"clustering_stats: {column!r} not in {p!r}")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[column]).statistics
            if st is not None and st.has_min_max:
                spans.append((st.min, st.max))
    spans.sort()
    overlaps = sum(
        1 for (_, hi), (lo, _) in zip(spans, spans[1:]) if lo <= hi
    )
    return {
        "n_row_groups": len(spans),
        "spans": spans,
        "overlap_fraction": round(overlaps / max(len(spans) - 1, 1), 4),
    }


# --- streaming ingest → generational tables ----------------------------------
#
# The composition that keeps a forever-running ingest healthy: micro-
# batches LAND as one partition each under root/landing (idempotent
# under foreachBatch replay), readers see committed generations plus
# the not-yet-absorbed landing tail with no duplicates in any window,
# and a scheduler-callable absorb pass folds landed batches into the
# next marker-committed generation. The fingerprint-store variant
# (streaming.events.compact_fingerprint_store) tolerates window
# duplicates because dedup reads presence; general tables cannot, so
# the generation carries an _ABSORBED ledger (cumulative batch ids,
# written before _COMPLETE = covered by the commit point) that the
# combined reader subtracts from the landing view.

#: landing partition columns for ingest tables. Lineage names the
#: CHECKPOINT lineage a stream runs under (the fingerprint store's
#: lesson, r4): batch ids restart at 0 on a fresh checkpoint, and a
#: second stream landing into the same root needs its own namespace —
#: without it, dynamic partition overwrite silently replaces another
#: run's partitions and loses rows.
_LINEAGE_COL = "_lineage"
_BATCH_COL = "_batch_id"

#: the lineage stamped on rows of a generation that has no ``_lineage``
#: column (a table seeded with :func:`write_table` and then fed by
#: incremental absorbs) — RESERVED: a live stream landing under it
#: would collide with those rows
_LEGACY_LINEAGE = "legacy"


def _check_lineage(lineage: str) -> str:
    """'%' is rejected alongside '/' and '=': hive-escaped partition
    dirs percent-encode special characters (lineage 'pt:BR' lands under
    ``_lineage=pt%3ABR``), and :func:`_landing_batches` percent-
    DECODES the dir back so ledger keys always equal the raw lineage
    string users filter the ``_lineage`` column on (ADVICE r10); a raw
    '%' would make that decoding ambiguous ('pt%3A' and 'pt:' collide)."""
    if (
        not lineage
        or lineage == _LEGACY_LINEAGE
        or any(ch in lineage for ch in "/=%")
    ):
        raise ValueError(
            f"invalid ingest lineage {lineage!r}: must be non-empty,"
            f" not the reserved {_LEGACY_LINEAGE!r} (rows of a generation"
            " without _lineage read under it), and free of '/', '=' and '%'"
        )
    return lineage


def landing_append(
    batch: DataFrame,
    root: str,
    batch_id: int,
    lineage: str = "default",
    manifest: bool = True,
) -> None:
    """``foreachBatch`` emit body landing one micro-batch as ONE
    ``_lineage=<l>/_batch_id=<id>`` partition under ``root/landing`` —
    dynamic partition overwrite, so an at-least-once replay rewrites
    its own partition instead of doubling rows. ``lineage`` names the
    checkpoint lineage (same contract as
    ``streaming.events.incremental_dedup_sink``): keep one string as
    long as the query restarts FROM THE SAME CHECKPOINT, pick a new
    one whenever you start over with a fresh checkpoint (batch ids
    restart at 0 — under the old lineage they would dynamic-overwrite
    absorbed history) or run a SECOND stream into the same root. Pair
    with :func:`read_ingest_table` (readers) and :func:`absorb_landing`
    (maintenance).

    ``manifest=True`` (default) also writes a per-batch ``_MANIFEST``
    inside the partition dir (footer harvest — batch-sized metadata,
    VERDICT r10 #5), so a selective :func:`read_ingest_table` can skip
    whole landing batches, not just generation files. Crash-safe by
    construction: dynamic partition overwrite deletes the ENTIRE
    partition dir contents — the old manifest included (probed) — so a
    replay can never leave a manifest describing vanished files; the
    only failure mode is a MISSING manifest (crash between data and
    manifest write, or an older writer), which readers fall back to an
    unpruned read of that one batch."""
    _check_lineage(lineage)
    (
        batch.withColumn(_LINEAGE_COL, F.lit(lineage))
        .withColumn(_BATCH_COL, F.lit(int(batch_id)))
        .write.partitionBy(_LINEAGE_COL, _BATCH_COL)
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(f"{root}/landing")
    )
    if manifest:
        spark = batch.sparkSession
        rel = _landing_batch_dirs(spark, root).get((lineage, int(batch_id)))
        if rel is not None:
            bdir = f"{root}/landing/{rel}"
            _write_manifest(spark, bdir, f"{bdir}/_MANIFEST")


def _decode_ranges(items: list) -> set[int]:
    out: set[int] = set()
    for item in items:
        if isinstance(item, list):
            out.update(range(item[0], item[1] + 1))
        else:
            out.add(int(item))
    return out


def _absorbed_ids(
    spark: SparkSession, gen_dir: str | None
) -> dict[str, set[int]]:
    """Decode a generation's ``_ABSORBED`` ledger into
    ``{lineage: batch ids}``. Items per lineage are bare batch ids or
    ``[lo, hi]`` inclusive ranges (batch ids are near-contiguous, so
    the range form keeps the ledger O(gaps) — a years-long ingest
    stays a handful of ranges per lineage, not one int per micro-batch
    ever absorbed). Keys are raw lineage strings."""
    import json

    if gen_dir is None:
        return {}
    text = fsutil.try_read_text(spark, f"{gen_dir}/_ABSORBED")
    if not text:
        return {}
    return {
        lin: _decode_ranges(items) for lin, items in json.loads(text).items()
    }


def _encode_ranges(ids: set[int]) -> list:
    """Inclusive ``[lo, hi]`` ranges (singletons stay bare ints) for
    the ledger — the inverse of :func:`_absorbed_ids`' decoder."""
    out: list = []
    for b in sorted(ids):
        if out and isinstance(out[-1], list) and out[-1][1] == b - 1:
            out[-1][1] = b
        elif out and not isinstance(out[-1], list) and out[-1] == b - 1:
            out[-1] = [out[-1], b]
        else:
            out.append(b)
    return out


def _encode_ledger(by_lineage: dict[str, set[int]]) -> str:
    import json

    return json.dumps(
        {lin: _encode_ranges(ids) for lin, ids in sorted(by_lineage.items())}
    )


def _covers(
    ledger: dict[str, set[int]], pending: dict[tuple[str, int], str]
) -> bool:
    """Does a decoded ledger cover every (lineage, batch) key?"""
    return all(b in ledger.get(lin, ()) for lin, b in pending)


def _landing_batches(
    spark: SparkSession, root: str
) -> list[tuple[str, int, str, int]]:
    """``(lineage, batch_id, landing-relative dir, mtime_ms)`` of every
    ``_lineage=*/_batch_id=*`` partition currently landed. The
    hive-escaped dir value decodes to the RAW lineage string (what the
    rows' ``_lineage`` column holds and what ledgers key on) —
    unambiguous because :func:`_check_lineage` forbids raw '%'."""
    from urllib.parse import unquote

    landing = f"{root}/landing"
    out = []
    for name, _ in fsutil.list_dir(spark, landing):
        if name.startswith(f"{_LINEAGE_COL}="):
            lin = unquote(name.split("=", 1)[1])
            for sub, mtime in fsutil.list_dir(spark, f"{landing}/{name}"):
                if sub.startswith(f"{_BATCH_COL}="):
                    b = int(sub.split("=", 1)[1])
                    out.append((lin, b, f"{name}/{sub}", mtime))
    return out


def _landing_batch_dirs(
    spark: SparkSession, root: str
) -> dict[tuple[str, int], str]:
    """(lineage, batch_id) → landing-relative partition dir currently
    present."""
    return {(lin, b): d for lin, b, d, _ in _landing_batches(spark, root)}


def _ingest_pending(
    spark: SparkSession, root: str
) -> tuple[str | None, dict[tuple[str, int], str]]:
    """(generation dir, unabsorbed landing partitions keyed by
    (lineage, batch_id)) — the one view construction shared by the
    reader and the absorb pass. The landing LISTS FIRST, the marker
    resolves AFTER: an absorb committing in between can only ADD
    ledger entries that subtract from the listing (never a committed
    batch missing from both legs); the reverse order could resolve
    the OLD generation and then list a landing the new commit's
    deletes already emptied."""
    pending_all = _landing_batch_dirs(spark, root)  # list FIRST
    gen = _resolve_table_generation(spark, root)    # resolve AFTER
    absorbed = _absorbed_ids(spark, gen)
    return gen, {
        k: d
        for k, d in pending_all.items()
        if k[1] not in absorbed.get(k[0], ())
    }


def _ingest_frames(
    spark: SparkSession,
    root: str,
    gen: str | None,
    pending: dict[tuple[str, int], str],
    where=None,
) -> list[DataFrame]:
    """The frames an ingest view unions: the generation's data (rows
    of a generation without ``_lineage`` gain the legacy lineage) and
    the pending landing partitions in one basePath read. ``where`` makes every leg carry the residual filter and the
    GENERATION leg manifest-pruned (the leg with 10^5-file scale;
    landing holds at most the batches since the last absorb)."""
    landing = f"{root}/landing"
    cond = _where_column(where) if where is not None else None
    preds = _check_prune_preds(where) if where is not None else []
    parts: list[DataFrame] = []
    def residual(frame: DataFrame) -> DataFrame:
        """The residual filter, tolerating a leg that LACKS a predicate
        column (schema-evolved chain/landing, ADVICE r10): every
        supported prune op is null-rejecting, so such a leg provably
        contributes no matching rows — an empty same-schema frame
        instead of an unresolved-column error."""
        if cond is None:
            return frame
        if any(c not in frame.columns for c, _op, _v in preds):
            return frame.filter(F.lit(False))
        return frame.filter(cond)

    if gen is not None:
        cols = spark.read.parquet(f"{gen}/data").columns
        missing = [c for c, _op, _v in preds if c not in cols]
        if where is not None and not missing:
            g = _read_generation_pruned(spark, root, gen, where)
        elif where is not None and missing == [_LINEAGE_COL]:
            # _lineage on a generation without it: stamp, filter unpruned
            g = _read_generation_pruned(spark, root, gen, None)
            if _LINEAGE_COL not in g.columns:
                g = g.withColumn(_LINEAGE_COL, F.lit(_LEGACY_LINEAGE))
            g = g.filter(cond)
        elif where is not None:
            g = residual(_read_generation_pruned(spark, root, gen, None))
        else:
            g = _read_generation_pruned(spark, root, gen, None)
        if _LINEAGE_COL not in g.columns:
            g = g.withColumn(_LINEAGE_COL, F.lit(_LEGACY_LINEAGE))
        parts.append(g)
    lineage_dirs = sorted(pending.values())
    if lineage_dirs:
        # per-batch landing prune (VERDICT r10 #5): each pending batch
        # dir carries its own footer-harvested _MANIFEST — a selective
        # live read opens only batches whose spans may match, falling
        # back to the whole dir where a manifest is absent (crash
        # window / older writer). Batch manifests are inline (a micro-
        # batch is one partition's files); anything else keeps whole.
        paths: list[str] = []
        if preds:
            import json

            tz = None
            try:
                tz = spark.conf.get("spark.sql.session.timeZone")
            except Exception:  # noqa: BLE001 - unset: naive ts keeps
                pass
            for d in lineage_dirs:
                text = fsutil.try_read_text(spark, f"{landing}/{d}/_MANIFEST")
                man = None
                if text:
                    try:
                        man = json.loads(text)
                    except ValueError:
                        man = None
                if not man or "files" not in man:
                    paths.append(f"{landing}/{d}")
                    continue
                kept = prune_manifest_files(man, where, session_tz=tz)
                if len(kept) >= man.get("n_files", 0):
                    paths.append(f"{landing}/{d}")
                else:
                    paths += [f"{landing}/{d}/{f}" for f in kept]
        else:
            paths = [f"{landing}/{d}" for d in lineage_dirs]
        if paths:
            frame = spark.read.option("basePath", landing).parquet(*paths)
            parts.append(residual(frame))
        else:
            # every pending batch provably excluded: an empty frame
            # keeps the union's schema (and the view non-empty-safe)
            frame = spark.read.option("basePath", landing).parquet(
                f"{landing}/{lineage_dirs[0]}"
            )
            parts.append(frame.filter(F.lit(False)))
    return parts


def read_ingest_table(
    spark: SparkSession, root: str, where=None
) -> DataFrame:
    """The LIVE view of an ingest table: the committed generation (if
    any) UNION the landing partitions it has not absorbed. Duplicate-
    free in every window by construction — an absorbed batch is listed
    in the generation's ``_ABSORBED`` ledger the instant the marker
    commits, so a straggling landing partition (delete pending, or a
    checkpoint replay re-landing an absorbed batch) is subtracted from
    the landing leg rather than read twice — PER LINEAGE, so a fresh
    checkpoint restarting batch ids at 0 under a new lineage never
    collides with absorbed history, and two streams landing into one
    root stay disjoint. Batch-only consumers that want a STABLE
    snapshot keep using :func:`read_table` (data as of the last
    absorb). Rows carry the ``_lineage`` and ``_batch_id`` columns;
    rows of a generation without ``_lineage`` (seeded by
    :func:`write_table`) read under the reserved legacy lineage.

    ``where`` (the :func:`read_table` predicate spec) makes the
    GENERATION leg manifest-pruned — when ``absorb_landing`` wrote a
    manifest, a selective live read opens only the generation files
    whose spans may match, never the rest — while every leg still
    carries the exact residual filter, so results are identical to
    ``read_ingest_table(...).filter(...)``. The landing leg filters
    without pruning (it holds at most the batches since the last
    absorb — the generation is where the 10^5-file scale lives).

    LAZY-READER TOCTOU (the ``gc_table_generations`` note, landing
    edition): the returned frame is lazy — a reader still scanning a
    landing partition when :func:`absorb_landing`'s post-commit delete
    removes it dies on a missing file. Long-lived readers pair
    ``absorb_landing(delete_absorbed=False)`` with a
    :func:`gc_landing` sweep whose age threshold outlives them."""
    gen, pending = _ingest_pending(spark, root)
    parts = _ingest_frames(spark, root, gen, pending, where=where)
    if not parts:
        raise ValueError(f"ingest table {root!r} has no generation and no landing data")
    out = parts[0]
    for p in parts[1:]:
        # a write_table-seeded (or schema-evolved) generation lacks
        # _batch_id / later columns: union them as nulls, the chain
        # reader's rule (same contract as _read_generation_pruned)
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def absorb_landing(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = 128 << 20,
    min_batches: int = 8,
    manifest: bool = True,
    stats_cols: list[str] | None = None,
    delete_absorbed: bool = True,
    incremental: bool = False,
    upsert_key: str | None = None,
    order_col: str | None = None,
) -> dict:
    """Fold landed micro-batches into the ingest table's NEXT
    generation: new generation = current generation ∪ the SNAPSHOTTED
    unabsorbed landing partitions, committed marker-last with a
    cumulative ``_ABSORBED`` ledger inside the generation (written
    before ``_COMPLETE``, so the ledger and the data commit together);
    absorbed partitions delete only after the marker lands. Readers
    through :func:`read_ingest_table` never see a row twice: before
    the marker flips they read old generation + full landing, after it
    the ledger subtracts the absorbed partitions whether or not their
    deletes have finished — and a later checkpoint REPLAY of an
    absorbed batch re-lands its partition but stays subtracted
    forever (its rows already live in the generation).

    ``min_batches`` gates the rewrite (census-only skip below it), so
    a scheduler calls this unconditionally — the ``maybe_compact_table``
    shape. Batches landing AFTER the snapshot are untouched and stay
    readable via the landing leg.

    ``incremental=True`` makes the absorb O(landed batches) instead of
    O(table): the new generation holds ONLY the absorbed batches' rows
    and chains to the previous head via ``_PARENT`` (the
    ``append_ivf_index`` shape — at a 100 TB generation, folding a few
    micro-batches must not rewrite 100 TB). Readers union the chain
    transparently (:func:`read_table` / :func:`read_ingest_table`),
    the cumulative ledger rides the chain HEAD, and
    :func:`compact_table` (or the chain-length gate in
    :func:`maybe_compact_table`) periodically folds the chain back to
    one parentless generation; :func:`gc_table_generations` protects
    the winner's transitive parents. This is the steady-state mode for
    large tables; the default rewrite keeps small tables
    self-contained in one generation.

    ``upsert_key`` makes the absorb CDC-shaped (requires
    ``incremental=True``): the delta keeps the LATEST landed version
    per key and tombstones the landed keys (:func:`upsert_table`
    mechanics), so ``read_table`` serves one current version per key.
    "Latest" is well-defined only per source: ``_batch_id`` is an
    independent monotone counter PER LINEAGE, so ordering by
    ``(_batch_id desc, _lineage desc)`` is meaningful within one
    lineage but arbitrary across lineages (batch 7 of lineage A would
    beat batch 3 of a later-arriving lineage B, lexicographic
    tiebreak). The absorb therefore REFUSES a keyed fold over pending
    batches spanning >1 lineage unless ``order_col`` names an explicit
    event/sequence column — then the winner per key is max
    ``(order_col, _batch_id, _lineage)`` and cross-lineage folds are
    well-ordered by the data itself. Updates to one key WITHIN a
    single micro-batch (same order_col value, if any) keep the
    standard CDC caveat: no defined order absent a finer sequence
    number. NULL-key rows pass through as plain appends. The live
    view's LANDING leg stays append-shaped until the absorb folds it —
    batch consumers wanting upsert semantics read ``read_table`` (as
    of the last absorb). Rewrite-mode upsert is deliberately absent:
    run the incremental absorb, then :func:`compact_table` (which
    materializes the tombstones into one physical version per key).

    Absorbed partitions delete ONLY when the commit is demonstrably
    visible — the re-resolved CURRENT generation's ledger must cover
    the snapshot. A marker write that failed-but-was-swallowed (a
    winner existed), or a concurrent absorb whose different snapshot
    won the race, leaves a current generation that does NOT hold these
    batches' rows; deleting the landing partitions then would LOSE
    them, so they stay for the next absorb to retry (the report says
    ``committed``/``landing_deleted``). ``delete_absorbed=False``
    defers all deletes to an age-thresholded :func:`gc_landing` sweep —
    required when long-lived lazy readers may still be scanning a
    just-absorbed partition (see :func:`read_ingest_table`'s TOCTOU
    note). Returns the absorb report."""
    if upsert_key is not None and not incremental:
        raise ValueError(
            "upsert_key requires incremental=True — rewrite-mode upsert"
            " is an incremental absorb followed by compact_table"
        )
    landing = f"{root}/landing"
    gen, pending = _ingest_pending(spark, root)
    absorbed = _absorbed_ids(spark, gen)
    if upsert_key is not None and gen:
        _check_tombstone_key(spark, root, gen, upsert_key)
    if len(pending) < min_batches:
        return {"absorbed": False, "pending_batches": len(pending)}
    # incremental: the new generation holds ONLY the landed batches and
    # chains to the current head via _PARENT — absorbing a few
    # micro-batches writes a few micro-batches, never the table
    # (readers union the chain; compact_table folds it). Rewrite mode
    # folds generation + landing into one self-contained generation.
    parent = gen.rsplit("/", 1)[-1] if (incremental and gen) else None
    parts = _ingest_frames(
        spark, root, None if parent else gen, pending
    )
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    census = fsutil.list_files(spark, landing)
    if gen and not parent:
        # rewrite mode folds the WHOLE chain (a rewrite after
        # incremental absorbs implicitly compacts it) — size n_out
        # from every member's bytes, not just the head's
        for member in _gen_chain(spark, root, gen):
            census += fsutil.list_files(spark, f"{member}/data")
    n_out = max(
        1, -(-sum(sz for _, sz in census) // target_file_bytes)
    )
    tomb_kw = {}
    if upsert_key is not None:
        if upsert_key not in merged.columns:
            raise ValueError(
                f"upsert_key {upsert_key!r} absent from landed rows"
                f" (columns: {merged.columns})"
            )
        if order_col is not None and order_col not in merged.columns:
            raise ValueError(
                f"order_col {order_col!r} absent from landed rows"
                f" (columns: {merged.columns})"
            )
        lineages = {lin for lin, _b in pending}
        if order_col is None and len(lineages) > 1:
            # batch ids are independent per-lineage counters — a keyed
            # fold across lineages has no defensible "latest" without
            # an explicit sequence column (ADVICE r11)
            raise ValueError(
                "upsert_key absorb over pending batches from"
                f" {len(lineages)} lineages ({sorted(lineages)}) is not"
                " well-ordered: _batch_id counts independently per"
                " lineage. Pass order_col=<event/sequence column> or"
                " absorb each lineage's stream into its own table root"
            )
        from pyspark.sql import Window

        # latest landed version per key; NULL keys are plain appends
        order = [F.col(_BATCH_COL).desc(), F.col(_LINEAGE_COL).desc()]
        if order_col is not None:
            order.insert(0, F.col(order_col).desc_nulls_last())
        w = Window.partitionBy(upsert_key).orderBy(*order)
        keyed = (
            merged.filter(F.col(upsert_key).isNotNull())
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        merged = keyed.unionByName(merged.filter(F.col(upsert_key).isNull()))
        tomb_kw = {"tombstones": keyed, "tombstone_col": upsert_key}
    ledger = {lin: set(ids) for lin, ids in absorbed.items()}
    for lin, b in pending:
        ledger.setdefault(lin, set()).add(b)
    try:
        name = write_table(
            merged.repartition(n_out),
            root,
            manifest=manifest,
            stats_cols=stats_cols,
            extra_files={"_ABSORBED": _encode_ledger(ledger)},
            parent=parent,
            **tomb_kw,
        )
    except Exception:
        # a concurrent absorb that won and deleted its absorbed landing
        # partitions makes OUR snapshot read fail on missing inputs —
        # lose gracefully when the now-current ledger demonstrably
        # covers this snapshot (the rows live in a marker-referenced
        # generation; nothing is lost and there is nothing to retry),
        # re-raise anything else (genuine I/O failure)
        gen_now = _resolve_table_generation(spark, root)
        if _covers(_absorbed_ids(spark, gen_now), pending):
            return {
                "absorbed": False,
                "pending_batches": len(pending),
                "reason": "snapshot raced a concurrent absorb whose"
                " commit covers it; nothing lost, nothing to retry",
            }
        raise
    # delete only when the commit is visibly in effect: the CURRENT
    # generation's ledger covers this snapshot (ours, or a concurrent
    # winner that absorbed a superset — either way the rows live in a
    # marker-referenced generation)
    gen_now = _resolve_table_generation(spark, root)
    committed = gen_now is not None and gen_now.rsplit("/", 1)[-1] == name
    covered = _covers(_absorbed_ids(spark, gen_now), pending)
    if covered and delete_absorbed:
        for d in pending.values():
            fsutil.delete(spark, f"{landing}/{d}")
    return {
        "absorbed": True,
        "committed": committed,
        "generation": name,
        "parent": parent,
        "absorbed_batches": len(pending),
        "ledger_size": sum(len(ids) for ids in ledger.values()),
        "landing_deleted": covered and delete_absorbed,
        "files_after": len(fsutil.list_files(spark, f"{root}/{name}/data")),
    }


def gc_landing(
    spark: SparkSession, root: str, max_age_ms: int, now_ms: int | None = None
) -> list[str]:
    """Sweep landing partitions whose batches the CURRENT generation's
    ledger already covers and whose mtime is older than ``max_age_ms``
    — the deferred-delete companion to
    ``absorb_landing(delete_absorbed=False)``. The ledger guard means
    only batches whose rows live in a marker-referenced generation are
    ever deleted; the age threshold protects lazy readers still
    scanning a just-absorbed partition (size it past the longest
    reader lifetime — the ``gc_table_generations`` note verbatim).
    Returns the deleted partition dir names."""
    import time

    now = int(time.time() * 1000) if now_ms is None else now_ms
    absorbed = _absorbed_ids(spark, _resolve_table_generation(spark, root))
    deleted: list[str] = []
    for lin, b, rel, mtime in _landing_batches(spark, root):
        if b in absorbed.get(lin, ()) and now - mtime > max_age_ms:
            fsutil.delete(spark, f"{root}/landing/{rel}")
            deleted.append(rel)
    return sorted(deleted)
