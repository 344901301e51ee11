"""Sinks: append/overwrite writes in parquet/csv/json, partitioned
layouts, and catalog table registration (reference R5/R6/R7).

The reference's writes are per-record INSERTs with wasApplied checks
(DeduplicationProvider.kt:135-155); a set-oriented engine writes whole
relations atomically per partition-directory. Partitioning discipline
for 100 TB: partition by a low-cardinality derived column (date, lang,
media_type), never by a key with millions of values; target file sizes
come from upstream repartition, not the writer.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_parquet(df: DataFrame, path: str, mode: str = "append",
                  partition_by: Sequence[str] | None = None,
                  target_partitions: int | None = None) -> None:
    """Parquet sink (R5 append / R6 overwrite-as-upsert-ledger).

    ``target_partitions`` repartitions before write to control output
    file count/size (the writer-side knob that matters at scale).
    """
    if target_partitions:
        df = df.repartition(target_partitions)
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite",
              header: bool = True) -> None:
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def read_csv(spark: SparkSession, path: str, schema=None) -> DataFrame:
    r = spark.read.option("header", "true")
    return (r.schema(schema) if schema is not None
            else r.option("inferSchema", "true")).csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    r = spark.read
    return (r.schema(schema).json(path) if schema is not None
            else r.json(path))


def write_bucketed_table(df: DataFrame, name: str,
                         bucket_by: Sequence[str], n_buckets: int,
                         sort_by: Sequence[str] | None = None,
                         mode: str = "overwrite") -> None:
    """Save as a catalog table hash-bucketed (and optionally sorted)
    on the join/aggregation keys.

    THE pre-shuffle for repeated big-big joins at scale: two tables
    bucketed the same way join with zero Exchange — the shuffle was
    paid once at write time and amortizes over every subsequent query
    (the storage-layout analog of the reference's per-key Cassandra
    partitions, which co-locate each key's rows ahead of reads).
    Verified by plan assertion in tests/test_sinks_multimodal.py.
    """
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_by)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.format("parquet").saveAsTable(name)


def create_table_if_not_exists(spark: SparkSession, name: str,
                               df: DataFrame, path: str) -> None:
    """Lazy table creation (R7, createTableIfNotExist,
    DeduplicationProvider.kt:226-236): register a parquet path as a
    catalog table on first use; no-op when it already exists."""
    if spark.catalog.tableExists(name):
        return
    import os
    if os.path.isdir(path) and any(
            not e.startswith((".", "_")) for e in os.listdir(path)):
        # table missing from THIS session's catalog but the data
        # already exists (in-memory catalog wiped between sessions):
        # register the existing location instead of a CTAS, which
        # refuses a non-empty path — re-runs stay a true no-op
        spark.catalog.createTable(name, path=path, source="parquet")
        return
    df.write.mode("errorifexists").option("path", path) \
      .saveAsTable(name)


def merge_upsert(spark: SparkSession, target_table: str, source: DataFrame,
                 keys: Sequence[str]) -> str:
    """Keyed upsert into a catalog table — the reference's
    INSERT-if-absent/UPDATE-if-present write (R6,
    DeduplicationProvider.kt:157-179) as a lakehouse MERGE.

    Source-wins semantics (matched target rows take the source row's
    values; unmatched source rows insert), the observable behavior of
    ``MERGE INTO … WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED
    THEN INSERT *``. Two paths, same result:

    - **MERGE INTO** (preferred): issued as real SQL when the target's
      catalog/table format supports row-level operations (Delta,
      Iceberg, any DSv2 row-level source). On such tables this is the
      engine-native transactional upsert a real deployment runs.
    - **Rewrite fallback**: plain file-format tables (this container —
      no Delta/Iceberg available) reject row-level MERGE at analysis
      time; the fallback derives the same final state as a set
      operation — target rows whose key has no source match
      (LEFT ANTI join, keys only through the shuffle) unioned with the
      full source. For an UNPARTITIONED parquet/orc table on a
      filesystem with ATOMIC directory rename (file/hdfs/viewfs — not
      object stores, where rename is a non-atomic O(data) copy) the
      merged result is staged to a SIBLING directory and swapped in
      with two filesystem renames (aside, then into place) — the table's
      registered location never changes, so path-based re-registration
      across sessions keeps working and repeated merges never grow the
      path. A failure before the first rename leaves the target
      untouched; between the renames both suffixed directories still
      exist (loud read failures, zero data loss, and the code rolls
      the original back if the second rename fails); the old directory
      is deleted best-effort last. Partitioned tables — and formats
      whose serde options this engine cannot blindly replicate
      (csv/json) — fall back to a scratch-staged
      ``insertInto(overwrite)`` through the table's own writer, which
      is NOT atomic: a failure between the committer's truncate and
      commit can leave the table partial — the documented price of
      plain file formats; use a row-level format (Delta/Iceberg) for
      transactional partitioned upserts. This mirrors the
      versioned-ledger merge the streaming sink proves
      (streaming/sinks.py upsert_merge_fn), minus the version chain a
      one-shot batch upsert doesn't need.

    Duplicate keys in the source raise (both engines' MERGE semantics:
    a multi-match is an error, never a silent nondeterministic pick).
    Returns which path ran: ``"merge_into"`` or ``"rewrite"`` — callers
    and tests can assert the route.
    """
    from pyspark.sql import functions as F
    key_list = list(keys)
    # an aggregate, not a `limit` probe: a limit's generated code is
    # new source per plan, so it would compile on every call
    most = (source.groupBy(*key_list).count()
                  .agg(F.max("count")).collect()[0][0])
    if most is not None and most > 1:
        raise ValueError(
            f"merge_upsert: source has duplicate rows for keys "
            f"{key_list} — MERGE requires at most one source row per "
            "target row (Delta/Iceberg raise the same)")
    # uuid per CALL: a name derived from the table would let two
    # concurrent merge_upserts (same table, or a hash collision)
    # createOrReplaceTempView over each other mid-MERGE
    import uuid
    view = f"_merge_src_{uuid.uuid4().hex}"
    source.createOrReplaceTempView(view)
    cond = " AND ".join(f"t.{k} <=> s.{k}" for k in key_list)
    try:
        spark.sql(f"""
            MERGE INTO {target_table} t USING {view} s ON {cond}
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
        """)
        return "merge_into"
    except Exception as exc:  # route ONLY on the missing-capability
        # error condition — any other MERGE failure must surface, not
        # silently fall through to a full table rewrite
        cond_name = ""
        for probe in ("getCondition", "getErrorClass"):
            fn = getattr(exc, probe, None)
            if fn is not None:
                try:
                    cond_name = fn() or ""
                    break
                except Exception:  # noqa: BLE001 — probe only
                    pass
        unsupported = (
            cond_name.startswith("UNSUPPORTED_FEATURE")
            or "MERGE INTO TABLE is not supported" in str(exc))
        if not unsupported:
            raise
    finally:
        spark.catalog.dropTempView(view)
    target = spark.table(target_table)
    if sorted(target.columns) != sorted(source.columns):
        raise ValueError(
            f"merge_upsert rewrite: source columns {sorted(source.columns)}"
            f" != target columns {sorted(target.columns)}")
    # null-SAFE anti join so NULL keys merge exactly like the MERGE
    # path's `<=>` condition (a null-unsafe anti join would keep the
    # target's NULL-key row AND insert the source's — two rows where
    # MERGE produces one)
    src_keys = source.select(*key_list)
    anti_cond = None
    for k in key_list:
        term = target[k].eqNullSafe(src_keys[k])
        anti_cond = term if anti_cond is None else (anti_cond & term)
    kept = target.join(src_keys, anti_cond, "left_anti")
    merged = kept.unionByName(source.select(*target.columns))

    partitioned = any(
        getattr(c, "isPartition", False)
        for c in spark.catalog.listColumns(target_table))
    loc = provider = None
    if not partitioned:
        for row in spark.sql(
                f"DESCRIBE FORMATTED {target_table}").collect():
            key = (row.col_name or "").strip().lower()
            if key == "location":
                loc = (row.data_type or "").strip()
            elif key == "provider":
                provider = (row.data_type or "").strip().lower()
    # the swap path writes the staged data itself, so it is limited to
    # formats this engine can write losslessly WITHOUT the table's
    # serde options (csv/json tables carry options the writer would
    # have to replicate); others take the insertInto fallback, which
    # always honors the table's own format.
    # It is ALSO limited to filesystems whose directory rename is an
    # atomic metadata operation (local file, hdfs, viewfs): on object
    # stores (s3a://, gs://, abfs://…) Hadoop fs.rename degrades to a
    # non-atomic O(data) copy-and-delete, so the documented crash
    # model — "two metadata renames, zero-data-loss windows, rollback"
    # — would not hold: a mid-"rename" failure could leave a
    # partially-copied target with no intact original. Those locations
    # route through the insertInto fallback below (not atomic either,
    # but it never destroys the original before the committer's
    # commit point, and object-store deployments wanting transactional
    # upserts should be on a row-level format anyway — see docstring).
    scheme = ""
    if loc:
        from urllib.parse import urlparse
        scheme = urlparse(loc).scheme or "file"
    if loc and provider in ("parquet", "orc") \
            and scheme in ("file", "hdfs", "viewfs"):
        # in-place directory swap: stage the merged table BESIDE the
        # location, then two metadata renames — the table's registered
        # path never changes (cross-session re-registration by path,
        # create_table_if_not_exists, keeps working, and repeated
        # merges never grow the path). A crash before the first rename
        # leaves the target untouched; between the renames both
        # directories still exist under suffixed names (no data loss,
        # reads fail loudly until the rollback below or an operator
        # re-rename); after them only orphan cleanup remains.
        tag = uuid.uuid4().hex[:12]
        stage_loc = f"{loc.rstrip('/')}.staging-{tag}"
        old_loc = f"{loc.rstrip('/')}.old-{tag}"
        merged.write.mode("errorifexists").format(provider).save(stage_loc)
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(loc)
        stage = jvm.org.apache.hadoop.fs.Path(stage_loc)
        old = jvm.org.apache.hadoop.fs.Path(old_loc)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.rename(path, old):
            raise IOError(
                f"merge_upsert: could not move {loc} aside; staged "
                f"merge left at {stage_loc}")
        if not fs.rename(stage, path):
            if fs.rename(old, path):  # roll the original back
                raise IOError(
                    f"merge_upsert: could not swap {stage_loc} into "
                    f"place; original restored at {loc}")
            raise IOError(
                f"merge_upsert: swap AND rollback failed — the table "
                f"location {loc} is empty; original data is intact at "
                f"{old_loc}, staged merge at {stage_loc}: restore by "
                f"renaming one of them to {loc}")
        spark.catalog.refreshTable(target_table)
        try:
            fs.delete(old, True)
        except Exception:  # noqa: BLE001 — orphan cleanup only
            pass
        return "rewrite"
    # partitioned, location unresolvable, or a format the swap path
    # cannot write: scratch-staged overwrite through the table's own
    # writer — correct end state, but not atomic (see docstring)
    from distributed_deduplicator_spark.scratch import materialize
    staged = materialize(merged, "merge_upsert")
    staged.write.mode("overwrite").insertInto(target_table)
    return "rewrite"


def write_range_partitioned(df: DataFrame, path: str,
                            range_cols: Sequence[str],
                            n_partitions: int,
                            sort_within: Sequence[str] | None = None,
                            mode: str = "overwrite") -> None:
    """Range-partitioned, sorted parquet layout: rows are globally
    range-partitioned on ``range_cols`` (repartitionByRange — one
    sampling pass + one shuffle) and sorted inside each file.

    THE layout knob for time-series/ordered scans at 100 TB: each
    output file covers a disjoint key range, so every row group's
    parquet min/max statistics are tight and range predicates skip
    whole row groups in the vectorized reader (and whole FILES under
    a table format that indexes file stats — Delta/Iceberg-style
    catalogs; vanilla Spark parquet scans still list every file).
    The storage-side analog of the reference's clustering order
    (DeduplicationProvider.kt:233). Verified by footer-statistics
    disjointness assertion in tests/test_sinks_multimodal.py.
    """
    out = df.repartitionByRange(n_partitions, *range_cols)
    out = out.sortWithinPartitions(*(sort_within or range_cols))
    out.write.mode(mode).parquet(path)


def zorder_value(bounds: dict[str, tuple[float, float]],
                 bits: int = 12):
    """Z-order (Morton) interleave expression over 2+ numeric columns.

    Each column is quantized to ``2**bits`` buckets between its
    ``(min, max)`` bounds (pass catalog/footer statistics — query
    construction must not scan data, same discipline as the ANN index
    sizing), then the bucket ids' bits are interleaved so that rows
    close in EVERY dimension get close z-values. Pure JVM expression
    (width_bucket + shiftleft/bitwise-or chain) — whole-stage codegen,
    no Python per row.
    """
    from pyspark.sql import functions as F
    if len(bounds) < 2:
        raise ValueError("z-order needs >= 2 columns")
    if not (1 <= bits <= 20):
        raise ValueError("bits must be in [1, 20]")
    ndim = len(bounds)
    if bits * ndim > 63:
        # JVM shiftleft wraps shift amounts mod 64, so an interleaved
        # bit position past 63 would silently fold back onto low bits
        # and destroy the clustering/pruning property
        raise ValueError(
            f"bits * len(bounds) = {bits * ndim} exceeds 63: the "
            f"interleaved z-value must fit a signed 64-bit long; lower "
            f"bits (e.g. {63 // ndim}) or drop dimensions")
    terms = []
    for d, (col, (lo, hi)) in enumerate(bounds.items()):
        if not hi > lo:
            raise ValueError(f"bounds for {col!r} must satisfy max > min")
        # width_bucket: 1..n in range; clamp BOTH overflow buckets —
        # the right edge (n+1) into bucket n, and below-range values
        # (bucket 0, from stale/approximate stats) into bucket 1:
        # unclamped, bucket-1 = -1 arithmetic-shifts to all-one bits
        # and below-range rows would z-order into the MAX corner,
        # stretching that file's footer range across the whole domain
        bucket = (F.greatest(
                      F.least(F.width_bucket(F.col(col), F.lit(float(lo)),
                                             F.lit(float(hi)),
                                             F.lit(2 ** bits)),
                              F.lit(2 ** bits)),
                      F.lit(1)) - F.lit(1)).cast("long")
        for i in range(bits):
            # bit i of this dim lands at interleaved position i*ndim + d
            terms.append(
                F.shiftleft(F.shiftright(bucket, i).bitwiseAND(F.lit(1)),
                            i * ndim + d))
    z = terms[0]
    for t in terms[1:]:
        z = z.bitwiseOR(t)
    return z


def write_zorder(df: DataFrame, path: str,
                 bounds: dict[str, tuple[float, float]],
                 n_partitions: int, bits: int = 12,
                 mode: str = "overwrite") -> None:
    """Z-ordered parquet layout: rows range-partitioned and sorted by
    their Morton z-value over ``bounds.keys()``.

    THE multi-dimensional data-skipping layout (Delta/Iceberg
    OPTIMIZE ZORDER): a single-column sort gives perfect footer
    min/max pruning on that column and NONE on any other; z-ordering
    gives every listed column ~sqrt-of-files pruning simultaneously,
    because each output file covers a small hyper-rectangle of the key
    space. Use for tables queried by several independent selective
    predicates (user_id AND time; lang AND source). One sampling pass
    + one shuffle at write time, like write_range_partitioned.
    Verified by per-file footer-statistics pruning assertion on BOTH
    dimensions in tests/test_sinks_multimodal.py.
    """
    if "_zval" in df.columns:
        raise ValueError(
            "input already has a '_zval' column; it would be silently "
            "overwritten and dropped from the written output")
    z = zorder_value(bounds, bits=bits).alias("_zval")
    out = (df.withColumn("_zval", z)
             .repartitionByRange(n_partitions, "_zval")
             .sortWithinPartitions("_zval")
             .drop("_zval"))
    out.write.mode(mode).parquet(path)


def compact_small_files(spark: SparkSession, src_path: str,
                        dest_path: str,
                        target_bytes: int = 128 * 1024 * 1024,
                        mode: str = "overwrite") -> int:
    """Bin-pack a directory of small parquet files into
    ~``target_bytes`` outputs; returns the output file count.

    THE operational fix for the small-files problem: streaming sinks,
    per-batch appends and over-parallel writes leave thousands of tiny
    files whose open/footer overhead dominates scan time and whose
    listing hammers the object store. Output count is sized from
    FOOTER/file metadata only (no data scan before the rewrite), then
    one round-robin repartition redistributes rows evenly. Writes to a
    NEW path — at scale, atomic swap is the table format's job
    (Delta/Iceberg rewrite + commit); an in-place rewrite on plain
    parquet would lose data on failure mid-write.
    """
    import glob as _glob
    import os as _os
    files = _glob.glob(_os.path.join(src_path, "*.parquet")) \
        or _glob.glob(_os.path.join(src_path, "part-*"))
    if not files:
        raise ValueError(f"no parquet files under {src_path!r}")
    total = sum(_os.path.getsize(f) for f in files)
    n_out = max(1, -(-total // target_bytes))  # ceil
    df = spark.read.parquet(src_path)
    df.repartition(n_out).write.mode(mode).parquet(dest_path)
    return n_out


def observed_write(df: DataFrame, path: str,
                   metrics: dict[str, "object"] | None = None,
                   mode: str = "overwrite") -> dict:
    """Write parquet while collecting aggregate health metrics IN the
    same pass via ``Observation`` — zero extra scans.

    The ingest-health discipline of ``table_profile`` (one scan, every
    metric) applied at WRITE time: at 100 TB a separate validation
    query doubles the pipeline's IO, while observe() piggybacks the
    aggregates onto the write job's existing pass. Default metrics:
    row count. Pass extra aggregate Columns (must be aggregates, e.g.
    ``F.count(F.when(F.col("v").isNull(), 1))``) keyed by name.
    Returns the collected metric dict.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    cols = {"n_rows": F.count(F.lit(1))}
    if metrics:
        cols.update(metrics)
    obs = Observation()
    out = df.observe(obs, *[c.alias(n) for n, c in cols.items()])
    out.write.mode(mode).parquet(path)
    return obs.get
