"""Spark ⇄ IcebergLocalTable adapter.

Write path: Spark writes immutable parquet under
``<location>/data/seq=N/`` (hive layout when identity-partitioned), the
adapter collects footer stats with pyarrow and commits an Iceberg v2
snapshot. Data files are never rewritten in place — every commit gets a
fresh ``seq=N`` directory, which is what makes time travel work and
matches Iceberg's immutable-file contract.

Read path: the table's manifest chain is resolved (optionally at a past
snapshot / timestamp, optionally pruned by predicate against partition
tuples and file bounds) and the surviving file list feeds
``spark.read.parquet`` with an explicit schema + ``basePath`` so
hive-partition columns (and the synthetic ``seq`` commit column) are
recovered without type inference. On a 1000-executor cluster the same
listing is what an Iceberg DSv2 relation hands Spark as its file index —
Catalyst still does column pruning and residual filtering on the scan;
this layer contributes the *file-level* pruning Spark can't do from a
bare directory.
"""

from __future__ import annotations

import os
import shutil
import urllib.parse
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ner_spark.iceberg import transforms
from ner_spark.iceberg.zorder import zorder_column
from ner_spark.iceberg.table import (
    DataFile,
    IcebergLocalTable,
    collect_parquet_stats,
    partition_result_type,
    schema_to_spark_ddl,
)


def _data_dir(location: str) -> str:
    return os.path.join(location.rstrip("/"), "data")


def _deletes_dir(location: str) -> str:
    """Delete files (v2 merge-on-read row deltas) live beside the data
    tree, never inside it — the ``basePath``-driven data scan must not
    pick them up as data."""
    return os.path.join(location.rstrip("/"), "deletes")


# Spark's _metadata.file_path carries a URI scheme (file:///...); manifest
# data-file paths are plain POSIX. Position-delete matching normalizes both.
_SCHEME_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*:(//)?"


def _strip_scheme(col):
    return F.regexp_replace(col, _SCHEME_RE, "")


def _list_parquet(d: str) -> list[str]:
    out = []
    for root, _dirs, names in os.walk(d):
        for n in names:
            if n.endswith(".parquet"):
                out.append(os.path.join(root, n))
    return sorted(out)


def _partition_parser(data_dir: str, spec_cols: dict[str, str]):
    """path → {col: typed value} from hive-style dir segments."""

    def _cast(t: str, v: str):
        if t in ("int", "long"):
            return int(v)
        if t in ("double", "float"):
            return float(v)
        if t == "boolean":
            return v.lower() == "true"
        return v  # string (dates/timestamps aren't identity-partition
        # sources in this repo)

    def parse(path: str) -> dict:
        rel = os.path.relpath(path, data_dir)
        vals: dict = {}
        for seg in rel.split(os.sep)[:-1]:
            k, eq, v = seg.partition("=")
            if eq and k in spec_cols:
                v = urllib.parse.unquote(v)
                vals[k] = (
                    None if v == "__HIVE_DEFAULT_PARTITION__"
                    else _cast(spec_cols[k], v)
                )
        return vals

    return parse


def _write_parquet_micros(
    df: DataFrame,
    out_dir: str,
    partition_by: list[str] | None = None,
    coalesce: int | None = None,
) -> None:
    """Write immutable parquet for a commit. Iceberg data files must use
    TIMESTAMP_MICROS (INT96 has no column stats → no bounds, no pruning);
    ner_spark.session sets this globally, but honor it for foreign
    sessions too (set-and-restore)."""
    if coalesce:
        df = df.coalesce(coalesce)
    w = df.write.mode("errorifexists")
    if partition_by:
        w = w.partitionBy(*partition_by)
    sess = df.sparkSession
    conf_key = "spark.sql.parquet.outputTimestampType"
    prev = sess.conf.get(conf_key, None)
    sess.conf.set(conf_key, "TIMESTAMP_MICROS")
    try:
        w.parquet(out_dir)
    finally:
        if prev is not None:
            sess.conf.set(conf_key, prev)


def _stat_commit_dir(
    t: IcebergLocalTable, md: dict, location: str, commit_dir: str
) -> list[DataFile]:
    """Footer stats for a freshly written data commit dir, with partition
    values recovered from the hive segments (typed by each transform's
    RESULT type) and identity values mirrored into the (path-only)
    partition column's bounds."""
    struct = t._schema_struct(md)
    spec = t._spec_fields(md)
    parser = _partition_parser(_data_dir(location), {
        pf["name"]: partition_result_type(pf, struct) for pf in spec
    })
    identity = {
        pf["name"] for pf in spec
        if pf.get("transform", "identity") == "identity"
    }
    files = collect_parquet_stats(_list_parquet(commit_dir), parser)
    for f in files:
        for c, v in f.partition.items():
            if v is not None and c in identity:
                f.lower_bounds.setdefault(c, v)
                f.upper_bounds.setdefault(c, v)
    return files


def _partition_projection(
    t: IcebergLocalTable, md: dict, df: DataFrame
) -> tuple[DataFrame, list[str]]:
    """Materialize the table's partition spec as write-side columns:
    identity fields are the source column itself (path-only, recovered on
    read); transform fields (``ts_day``, ``conv_id_bucket``, …) are
    DERIVED columns computed here — built-in exprs where Spark has them,
    Arrow-batched numpy murmur3 for bucket — and exist only in the hive
    path, never in file contents or the read schema: hidden partitioning.
    Every data commit MUST write through this projection so all commit
    dirs share one layout (Spark's partition discovery rejects mixed
    depths)."""
    struct = t._schema_struct(md)
    by_id = {f["id"]: f for f in struct["fields"]}
    names = []
    for pf in t._spec_fields(md):
        names.append(pf["name"])
        tr = pf.get("transform", "identity")
        if tr != "identity":
            src = by_id[pf["source-id"]]
            df = df.withColumn(
                pf["name"],
                transforms.spark_partition_column(tr, src["name"], src["type"]),
            )
    return df, names


def write_iceberg(
    df: DataFrame,
    location: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    run_id: str | None = None,
    properties: dict | None = None,
    summary: dict | None = None,
    branch: str = "main",
    set_properties: dict | None = None,
) -> int:
    """Write ``df`` as a new Iceberg snapshot; returns the snapshot id.

    ``mode='overwrite'`` replaces table contents (new snapshot, old data
    files retained for time travel); ``mode='append'`` adds to them.
    ``branch`` stages the commit on a named branch instead of advancing
    the table head (write-audit-publish: write to an audit branch,
    validate with ``read_iceberg(ref=branch)``, publish with
    ``IcebergLocalTable.fast_forward('main', branch)``).
    """
    t = IcebergLocalTable(location)
    if not t.exists():
        t = IcebergLocalTable.create(
            location, df.schema, partition_by=partition_by, properties=properties
        )
    else:
        # union-evolve on write (new nullable columns / safe promotions);
        # existing columns keep their field ids
        t.evolve_schema(df.schema)
    md = t.metadata()
    # validate the target ref BEFORE writing data files — a commit-time
    # failure would orphan parquet under the seq dir the next writer needs
    ref = (md.get("refs") or {}).get(branch)
    if ref is not None and ref.get("type") == "tag":
        raise ValueError(f"{branch!r} is a tag; tags are immutable")
    seq = md["last-sequence-number"] + 1
    commit_dir = os.path.join(_data_dir(location), f"seq={seq}")
    df, spec_names = _partition_projection(t, md, df)
    if spec_names:
        # hash-cluster on the partition layout before the partitionBy
        # write: without this every shuffle task writes into every hive
        # dir — measured 45,933 files for ONE 64k-row append under
        # days(ts)+bucket(16) vs one file per populated dir clustered.
        # The same idiom compact_iceberg_partitions uses; parallelism is
        # bounded by populated-dir count, which at production batch
        # sizes exceeds the executor count anyway.
        df = df.repartition(*[F.col(c) for c in spec_names])
    _write_parquet_micros(df, commit_dir, partition_by=spec_names or None)
    files = _stat_commit_dir(t, md, location, commit_dir)
    summ = dict(summary or {})
    if run_id is not None:
        summ["run_id"] = run_id
    op = "append" if mode == "append" else "overwrite"
    return t.commit(files, operation=op, summary=summ, branch=branch,
                    set_properties=set_properties)


def _apply_filters(df: DataFrame, filters: list[tuple] | None) -> DataFrame:
    """Residual predicate: file pruning keeps files that MAY match; the
    row-level filter is re-applied here (and pushed to the parquet scan
    by Catalyst)."""
    for col, op, val in filters or []:
        c = F.col(col)
        if op == "in":
            df = df.filter(c.isin(list(val)))
            continue
        df = df.filter(
            {"=": c == val, "<": c < val, "<=": c <= val,
             ">": c > val, ">=": c >= val}[op]
        )
    return df


def _layout_of(path: str, base: str) -> tuple:
    """Hive-dir signature of a data file (the partition column names on
    its path) — files written under different partition specs have
    different signatures, and Spark's partition discovery refuses to mix
    them in one read."""
    rel = os.path.relpath(path, base)
    return tuple(
        seg.partition("=")[0]
        for seg in rel.split(os.sep)[:-1]
        if "=" in seg
    )


def _scan_files(
    spark: SparkSession,
    location: str,
    ddl: str,
    cols: list[str],
    paths: list[str],
    with_pos_meta: bool = False,
) -> DataFrame:
    """One DataFrame over ``paths``, grouped by hive-layout signature so
    a table whose partition spec EVOLVED (old files under one layout,
    new files under another) still reads as one frame. Each group keeps
    ``basePath`` so path-only identity columns resolve; projections are
    uniform (``cols`` + ``seq`` [+ the position-delete metadata pair])
    so the groups union cleanly. ``_metadata`` must be selected
    per-group — it attaches to the file scan, not to a Union."""
    base = _data_dir(location)
    groups: dict[tuple, list[str]] = {}
    for p in paths:
        groups.setdefault(_layout_of(p, base), []).append(p)
    parts = []
    for _sig, ps in sorted(groups.items()):
        df = (
            spark.read.schema(ddl + ", seq bigint")
            .option("basePath", base)
            .parquet(*ps)
        )
        sel = [F.col(c) for c in [*cols, "seq"]]
        if with_pos_meta:
            sel += [
                _strip_scheme(F.col("_metadata.file_path")).alias("__fp"),
                F.col("_metadata.row_index").alias("__pos"),
            ]
        parts.append(df.select(*sel))
    return reduce(DataFrame.unionByName, parts)


# The spec's position-delete file schema (the optional ``row`` column is
# never written here). Delete files are read with a known schema: letting
# Spark infer it costs one footer read per file.
_POS_DELETE_DDL = "file_path string, pos bigint"


def _pos_delete_frame(spark: SparkSession, pos: list[DataFile]) -> DataFrame:
    """(file_path, pos) pairs from position-delete files, aliased to the
    ``__fp``/``__pos`` names the scan's ``_metadata`` projection uses."""
    paths = [d.path for d in pos]
    return spark.read.schema(_POS_DELETE_DDL).parquet(*paths).select(
        _strip_scheme(F.col("file_path")).alias("__fp"),
        F.col("pos").alias("__pos"),
    )


def _eq_delete_ddl(ids, struct: dict) -> tuple[list[str], str]:
    """(key column names, Spark DDL) of an equality-delete file: the
    table schema's ``equality_ids`` fields."""
    by_id = {f["id"]: f for f in struct["fields"]}
    fields = [by_id[i] for i in ids]
    return [f["name"] for f in fields], schema_to_spark_ddl({"fields": fields})


def _eq_delete_groups(spark: SparkSession, eqs: list[DataFile], struct: dict):
    """Per equality-id group: (key column names, delete frame with
    ``__d_``-prefixed keys + ``__dseq``). One definition of how equality
    delete files turn into joinable frames — the MOR read (anti) and the
    changelog (semi) must agree on it exactly."""
    groups: dict[tuple, list[DataFile]] = {}
    for d in eqs:
        groups.setdefault(tuple(d.equality_ids or ()), []).append(d)
    for ids, group in groups.items():
        names, ddl = _eq_delete_ddl(ids, struct)
        parts = [
            spark.read.schema(ddl).parquet(d.path)
            .select(*[F.col(c).alias(f"__d_{c}") for c in names])
            .withColumn("__dseq", F.lit(d.sequence_number))
            for d in group
        ]
        yield names, reduce(DataFrame.unionByName, parts)


def _eq_delete_cond(names: list[str]):
    """The strict-sequence null-safe match: data row seq strictly below
    the delete's commit sequence, keys equal with null == null (spec)."""
    cond = F.col("seq") < F.col("__dseq")
    for c in names:
        cond = cond & F.col(c).eqNullSafe(F.col(f"__d_{c}"))
    return cond


def _apply_deletes(
    spark: SparkSession,
    df: DataFrame,
    dels: list[DataFile],
    struct: dict,
) -> DataFrame:
    """Merge-on-read: subtract delete files from the raw data scan.

    ``df`` is a ``_scan_files`` frame: ``seq`` selected, and — whenever
    position deletes exist — the ``__fp``/``__pos`` pair materialized
    per file group from Spark's ``_metadata`` (it must be selected at
    the scan, not after a Union). Position deletes (content=1)
    anti-join on that (file_path, row ordinal) pair — no seq scoping
    needed, a position can only name a
    file that existed when the delete was written. Equality deletes
    (content=2) anti-join null-safely on their ``equality_ids`` columns,
    scoped to data rows with a STRICTLY smaller commit sequence (the
    hive ``seq=N`` layout stamps every row with its commit's sequence
    number, which by construction equals the manifest entry's) — rows
    appended in the same snapshot or later survive, which is exactly
    what lets one atomic MERGE commit delete-old + append-new.

    Both joins broadcast the delete side: row deltas are CDC-sized next
    to the table by design; when they stop being small, ``compact_iceberg``
    folds them back into data files.
    """
    pos = [d for d in dels if d.content == 1]
    eqs = [d for d in dels if d.content == 2]
    if pos:
        df = df.join(
            F.broadcast(_pos_delete_frame(spark, pos)),
            ["__fp", "__pos"], "left_anti",
        ).drop("__fp", "__pos")
    for names, deld in _eq_delete_groups(spark, eqs, struct):
        df = df.join(F.broadcast(deld), _eq_delete_cond(names), "left_anti")
    return df


def read_iceberg(
    spark: SparkSession,
    location: str,
    snapshot_id: int | None = None,
    as_of_ms: int | None = None,
    filters: list[tuple] | None = None,
    ref: str | None = None,
) -> DataFrame:
    """Scan → DataFrame (file-pruned, schema from table metadata,
    merge-on-read delete files applied). ``ref`` reads a named branch or
    tag head instead of main (``VERSION AS OF 'ref'`` semantics)."""
    t = IcebergLocalTable(location)
    md = t.metadata()
    ddl = t.spark_ddl()
    files = t.scan(
        snapshot_id=snapshot_id, as_of_ms=as_of_ms, filters=filters, ref=ref
    )
    cols = [f["name"] for f in t._schema_struct(md)["fields"]]
    if not files:
        return spark.createDataFrame([], ddl)
    dels = t.scan_deletes(snapshot_id=snapshot_id, as_of_ms=as_of_ms, ref=ref)
    out = _scan_files(
        spark, location, ddl, cols, [f.path for f in files],
        with_pos_meta=any(d.content == 1 for d in dels),
    )
    if dels:
        out = _apply_deletes(spark, out, dels, t._schema_struct(md))
    return _apply_filters(out.select(*cols), filters)


def read_iceberg_incremental(
    spark: SparkSession,
    location: str,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Rows ADDED after ``from_snapshot_id`` — the CDC-consumption read.

    At 100 TB this is the difference between a downstream job scanning
    the day's appends and re-scanning the table: O(new files), resolved
    entirely from manifest metadata.
    """
    t = IcebergLocalTable(location)
    files = t.scan_incremental(from_snapshot_id, to_snapshot_id)
    ddl = t.spark_ddl()
    if not files:
        return spark.createDataFrame([], ddl)
    cols = [f["name"] for f in t._schema_struct(t.metadata())["fields"]]
    return _scan_files(
        spark, location, ddl, cols, [f.path for f in files]
    ).select(*cols)


def read_iceberg_snapshot_adds(
    spark: SparkSession, location: str, snapshot_id: int
) -> DataFrame:
    """Rows ADDED by exactly one snapshot — the audit read of a staged
    branch commit (what actually reached disk), immune to orphaned
    staging snapshots sharing the sequence range."""
    t = IcebergLocalTable(location)
    files = t.scan_snapshot_adds(snapshot_id)
    ddl = t.spark_ddl()
    if not files:
        return spark.createDataFrame([], ddl)
    cols = [f["name"] for f in t._schema_struct(t.metadata())["fields"]]
    return _scan_files(
        spark, location, ddl, cols, [f.path for f in files]
    ).select(*cols)


def _live_rows_with_seq(
    spark: SparkSession,
    location: str,
    t: IcebergLocalTable,
    snapshot_id: int,
    files: list[DataFile] | None = None,
) -> DataFrame:
    """Live rows as of ``snapshot_id`` with the commit-sequence column
    retained (MOR deltas applied), optionally over a caller-supplied
    file subset (skips one manifest walk) — the parent-state read the
    changelog needs to turn delete files / removed files back into
    deleted ROWS."""
    md = t.metadata()
    ddl = t.spark_ddl()
    cols = [f["name"] for f in t._schema_struct(md)["fields"]]
    if files is None:
        files = t.scan(snapshot_id=snapshot_id)
    if not files:
        return spark.createDataFrame([], ddl + ", seq bigint")
    dels = t.scan_deletes(snapshot_id=snapshot_id)
    raw = _scan_files(
        spark, location, ddl, cols, [f.path for f in files],
        with_pos_meta=any(d.content == 1 for d in dels),
    )
    if dels:
        raw = _apply_deletes(spark, raw, dels, t._schema_struct(md))
    return raw.select(*cols, "seq")


def _net_carryovers(
    ins: DataFrame, dels: DataFrame, cols: list[str]
) -> tuple[DataFrame, DataFrame]:
    """Cancel identical insert/delete rows within one snapshot — the
    carryover rows a copy-on-write rewrite re-emits unchanged. Multiset
    semantics: net multiplicity per distinct row, re-expanded, so
    duplicate rows survive with the correct count. One shuffle over the
    snapshot's OWN delta (the rewritten files), never the table."""
    tagged = ins.select(*cols).withColumn("__w", F.lit(1)).unionByName(
        dels.select(*cols).withColumn("__w", F.lit(-1))
    )
    g = tagged.groupBy(*cols).agg(F.sum("__w").alias("__net"))
    ins_n = (
        g.where(F.col("__net") > 0)
        .withColumn("__x", F.explode(F.sequence(F.lit(1), F.col("__net"))))
        .select(*cols)
    )
    del_n = (
        g.where(F.col("__net") < 0)
        .withColumn("__x", F.explode(F.sequence(F.lit(1), -F.col("__net"))))
        .select(*cols)
    )
    return ins_n, del_n


def read_iceberg_changelog(
    spark: SparkSession,
    location: str,
    from_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
    net_carryovers: bool = True,
) -> DataFrame:
    """Row-level CDC view of (from, to]: every logical change as a row
    tagged ``_change_type`` ('insert' | 'delete'), ``_commit_order``
    (1-based position in the range) and ``_commit_snapshot_id`` — the
    read that closes the gap ``read_iceberg_incremental`` refuses:
    ranges crossing MOR ``delete`` and COW ``overwrite`` snapshots.
    An updated row appears as delete(old) + insert(new) at the same
    commit, so replaying the changelog onto the starting state
    reproduces the ending state exactly (multiset semantics).

    Per snapshot, everything is recovered from ITS OWN change files —
    O(delta), never a table scan, with one exception noted below:

    - appends / the append half of MOR merges: added data files → inserts;
    - position deletes: the delete files name ``(file_path, pos)``; the
      deleted rows come from re-reading ONLY the named files;
    - equality deletes: deleted rows = parent-state rows matching the
      key files under the strict-sequence rule. This is the exception:
      it re-reads the parent state behind a broadcast semi-join (prune
      it by writing equality deletes against a layout bucketed on the
      key — the scan then touches only the keys' buckets);
    - COW overwrites: removed files (parent-diff) re-read as deletes,
      added files as inserts, then ``net_carryovers`` cancels the
      unchanged rows a rewrite re-emits (one groupBy over the rewritten
      files; disable for raw file-level deltas);
    - ``replace`` (compaction) snapshots emit nothing — no logical change.

    Caveats: a snapshot combining position AND equality deletes that
    target the same row would double-emit its delete (this repo's
    writers never produce that); netting groups by all columns, so
    map-typed columns are not supported with ``net_carryovers=True``.
    """
    t = IcebergLocalTable(location)
    md = t.metadata()
    ddl = t.spark_ddl()
    struct = t._schema_struct(md)
    cols = [f["name"] for f in struct["fields"]]
    out_ddl = (
        ddl + ", _change_type string, _commit_order int, "
        "_commit_snapshot_id bigint"
    )
    changes = t.snapshot_changes(
        from_snapshot_id, to_snapshot_id, allow_overwrite=True
    )
    parts: list[DataFrame] = []
    for order, ch in enumerate(changes, start=1):
        snap = ch["snapshot"]
        ins: DataFrame | None = None
        if ch["data_files"]:
            ins = _scan_files(
                spark, location, ddl, cols,
                [f.path for f in ch["data_files"]],
            ).select(*cols)
        dparts: list[DataFrame] = []
        pos = [d for d in ch["delete_files"] if d.content == 1]
        eqs = [d for d in ch["delete_files"] if d.content == 2]
        if pos:
            pdel = _pos_delete_frame(spark, pos)
            named = sorted(
                {r["__fp"] for r in pdel.select("__fp").distinct().collect()}
            )
            raw = _scan_files(
                spark, location, ddl, cols, named, with_pos_meta=True
            )
            dparts.append(
                raw.join(F.broadcast(pdel), ["__fp", "__pos"], "left_semi")
                .select(*cols)
            )
        if eqs and snap.get("parent-snapshot-id") is not None:
            prior = _live_rows_with_seq(
                spark, location, t, snap["parent-snapshot-id"]
            )
            # the same frames and strict-sequence condition as the MOR
            # read's subtraction — semi instead of anti selects the rows
            # the delete REMOVED
            for names, deld in _eq_delete_groups(spark, eqs, struct):
                dparts.append(
                    prior.join(
                        F.broadcast(deld), _eq_delete_cond(names), "left_semi"
                    ).select(*cols)
                )
        if ch["removed_data_files"]:
            prior = _live_rows_with_seq(
                spark, location, t, snap["parent-snapshot-id"],
                files=ch["removed_data_files"],
            )
            dparts.append(prior.select(*cols))
        dels_df = reduce(DataFrame.unionByName, dparts) if dparts else None
        if net_carryovers and ins is not None and dels_df is not None:
            ins, dels_df = _net_carryovers(ins, dels_df, cols)
        for typ, df in (("insert", ins), ("delete", dels_df)):
            if df is None:
                continue
            parts.append(
                df.select(
                    *cols,
                    F.lit(typ).alias("_change_type"),
                    F.lit(order).alias("_commit_order"),
                    F.lit(snap["snapshot-id"]).alias("_commit_snapshot_id"),
                )
            )
    if not parts:
        return spark.createDataFrame([], out_ddl)
    return reduce(DataFrame.unionByName, parts)


def iceberg_sink(
    location: str,
    partition_by: list[str] | None = None,
    mode: str = "append",
    key: str | None = None,
    order_by: str | None = None,
    branch: str = "main",
):
    """Exactly-once streaming sink: ``writeStream.foreachBatch(iceberg_sink(loc))``.

    foreachBatch's contract is at-least-once with a stable batch_id on
    replay; commits stamp ``streaming-batch-id`` into the snapshot
    summary and a replayed batch at or below the last committed id is a
    no-op — the same idempotent-commit trick Iceberg's own streaming
    writer uses. Combined with the checkpointed source offsets this
    yields exactly-once table contents across restarts.

    ``mode='upsert'`` (requires ``key``) is the streaming-CDC shape:
    each batch lands as one atomic merge-on-read commit — an equality
    delete on the batch's keys plus the batch's rows — so later
    occurrences of a key replace earlier ones without ever rewriting
    the base table; O(batch) per trigger at any table size, with
    ``compact_iceberg`` folding the accumulated deltas on maintenance
    windows. This is why streaming writers emit equality deletes: the
    batch cannot know which data files hold its keys' old rows.

    A CDC feed can carry several events for one key INSIDE one
    micro-batch, and the strict-sequence rule cannot order rows that
    land at the same commit — so each batch is reduced to one row per
    key before the merge. Pass ``order_by`` (the feed's event-order
    column, e.g. a CDC LSN or event timestamp) to keep the LAST event
    per key; without it the surviving row is an arbitrary member of the
    key group (documented, same as dropDuplicates).

    ``branch`` stages every micro-batch commit on a named branch instead
    of main — streaming write-audit-publish. Readers of main never see
    in-flight stream output; the replay guard reads the BRANCH head (the
    stream's batch ids live there, not on main); and
    ``ner_spark.plans.wap.wap_publish_stream`` audits the accumulated
    branch delta and fast-forwards main in one O(1) metadata commit.
    Append mode only: a staged MOR merge would equality-delete against
    the branch while main readers keep the base, making publish-time
    semantics ambiguous.

    The replay guard is two-layered: in-flight batches are stamped on
    the staging branch's snapshots (walked from the branch head), and
    PUBLISHED batches raise the ``streaming-batch-id-hwm`` table
    property — updated atomically inside main-mode commits and by
    ``wap_publish_stream`` at publish time. The property survives
    snapshot expiry, and a REFUSED batch's stamps die with its dropped
    branch (never raising the hwm), so re-staging a fixed batch under a
    fresh checkpoint re-ingests cleanly. Consequence: batch ids are
    per-checkpoint, so run at most ONE stream per table — two
    concurrent streams would suppress each other's batches (same
    contract as Iceberg's own streaming writer).
    """
    if mode not in ("append", "upsert"):
        raise ValueError(mode)
    if mode == "upsert" and not key:
        raise ValueError("mode='upsert' requires key=")
    if order_by and mode != "upsert":
        raise ValueError("order_by only applies to mode='upsert'")
    if branch != "main" and mode == "upsert":
        # a staged MOR merge would equality-delete against the branch
        # while main readers keep the base — publish-time semantics get
        # ambiguous; streaming WAP is an append-ingest pattern
        raise ValueError("branch staging supports mode='append' only")

    def _last_per_key(df: DataFrame) -> DataFrame:
        if order_by is None:
            return df.dropDuplicates([key])
        from pyspark.sql.window import Window

        w = Window.partitionBy(key).orderBy(F.col(order_by).desc())
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )

    def _last_batch_id(t: IcebergLocalTable) -> int | None:
        """Newest committed streaming-batch-id this stream must not
        repeat: the max of (a) the ``streaming-batch-id-hwm`` table
        property — the PUBLISHED high-water mark, which survives
        snapshot expiry and is never raised by a refused-and-discarded
        staging branch — and (b) the stamp on the staging branch's head
        chain, which covers in-flight batches that haven't published
        yet. Deliberately NOT a global max over all snapshots: a
        discarded branch's stamps must not suppress re-ingesting the
        fixed batch."""
        best = None
        hwm = t.properties().get("streaming-batch-id-hwm")
        if hwm is not None:
            best = int(hwm)
        by_id = {s["snapshot-id"]: s for s in t.snapshots()}
        r = t.refs().get(branch)
        cur = r["snapshot-id"] if r is not None else None
        while cur is not None and cur in by_id:
            b = by_id[cur]["summary"].get("streaming-batch-id")
            if b is not None:
                best = max(best if best is not None else -1, int(b))
                break  # newest stamped snapshot on the chain wins
            cur = by_id[cur].get("parent-snapshot-id")
        return best

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        t = IcebergLocalTable(location)
        exists = t.exists() and t.current_snapshot() is not None
        if t.exists():
            last = _last_batch_id(t)
            if last is not None and last >= batch_id:
                return  # replayed batch: already committed
        summ = {"streaming-batch-id": batch_id}
        # main-mode commits ARE published: raise the hwm property inside
        # the same atomic metadata swap. Branch-mode commits leave it to
        # wap_publish_stream — a refused batch must stay replayable.
        props = (
            {"streaming-batch-id-hwm": batch_id} if branch == "main"
            else None
        )
        if mode == "upsert":
            batch_df = _last_per_key(batch_df)
        if mode == "upsert" and exists:
            merge_upsert_iceberg_mor(
                batch_df.sparkSession, location, batch_df, key=key,
                summary=summ, set_properties=props,
            )
            return
        # first batch (nothing to delete against) or plain append mode
        write_iceberg(
            batch_df,
            location,
            partition_by=partition_by,
            mode="append",
            summary=summ,
            branch=branch,
            set_properties=props,
        )

    return _write


def compact_iceberg(
    spark: SparkSession,
    location: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """rewrite_data_files: coalesce small files into ~target-size files
    and commit a ``replace`` snapshot (no logical rows change; incremental
    consumers skip it). The rewrite is a NARROW coalesce — no shuffle —
    exactly like io.compact_parquet_dir, but the swap is a metadata
    commit instead of a directory rename, so concurrent readers keep a
    consistent snapshot throughout. Because the source read is
    merge-on-read, compaction also FOLDS accumulated position/equality
    delete files into the rewritten data (the ``replace`` snapshot
    carries no delete manifests forward) — this is the maintenance half
    of the MOR contract. Returns the new file count.
    """
    t = IcebergLocalTable(location)
    files = t.scan()
    if not files:
        return 0
    total = sum(f.file_size for f in files)
    n_out = max(1, -(-total // target_file_bytes))  # ceil
    df = read_iceberg(spark, location)
    md = t.metadata()
    seq = md["last-sequence-number"] + 1
    commit_dir = os.path.join(_data_dir(location), f"seq={seq}")
    # compaction must keep the table's partition LAYOUT: Spark's
    # partition discovery rejects mixed dir depths, so an unpartitioned
    # rewrite would poison every later partitioned append. With a spec,
    # coalesce(n) bounds write parallelism and files bin-pack per
    # partition (real Iceberg's rewrite_data_files is per-partition too).
    df, spec_names = _partition_projection(t, md, df)
    _write_parquet_micros(
        df, commit_dir, partition_by=spec_names or None, coalesce=n_out
    )
    new_files = _stat_commit_dir(t, md, location, commit_dir)
    t.commit(new_files, operation="replace",
             summary={"compaction-target-bytes": target_file_bytes})
    return len(new_files)


def compact_iceberg_partitions(
    spark: SparkSession,
    location: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_input_files: int = 2,
    sort_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 6,
) -> dict:
    """Partition-scoped rewrite_data_files: binpack ONLY the partitions
    whose live files are smaller than they should be, leaving the rest of
    the table's files untouched (carried forward as EXISTING manifest
    entries, original sequence numbers preserved). This is the
    maintenance shape that survives 100 TB — a nightly window compacts
    the day's small-file partitions in O(today's data) while the
    petabytes of already-healthy partitions never move; the whole-table
    ``compact_iceberg`` would be a stop-the-world rewrite. Partition
    selection reads manifest METADATA only (the same rollup as
    ``meta_tables.partitions_table``).

    MOR interplay: rewritten rows are read merge-on-read (their deltas
    fold in) and land at the new sequence number, so carried equality
    deletes no longer apply to them but still apply to untouched old
    files; carried position deletes naming replaced paths match nothing.

    Clustering variants (mutually exclusive): ``sort_by`` range-clusters
    on one sort order (disjoint bounds along that prefix only);
    ``zorder_by`` clusters on an interleaved-bit Morton curve so file
    bounds prune probes on EVERY named column (see iceberg.zorder —
    upstream's ``sort_order => 'zorder(a, b)'``).

    Returns {"partitions_compacted", "files_in", "files_out"}.
    """
    if sort_by and zorder_by:
        raise ValueError("sort_by and zorder_by are mutually exclusive")
    t = IcebergLocalTable(location)
    md = t.metadata()
    files = t.scan()
    groups: dict[tuple, list] = {}
    for f in files:
        groups.setdefault(tuple(sorted((f.partition or {}).items())), []).append(f)
    picked = []
    for _part, fs in sorted(groups.items()):
        total = sum(f.file_size for f in fs)
        n_out = max(1, -(-total // target_file_bytes))
        # binpack only helps when it shrinks the file count; a sorted
        # rewrite also pays on an already-compact multi-file partition
        # (overlapping bounds → disjoint bounds)
        if len(fs) >= min_input_files and (
            sort_by or zorder_by or n_out < len(fs)
        ):
            picked.append((fs, n_out))
    if not picked:
        return {"partitions_compacted": 0, "files_in": 0, "files_out": 0}

    sel = [f for fs, _ in picked for f in fs]
    n_out = sum(n for _, n in picked)
    dels = t.scan_deletes()
    ddl = t.spark_ddl()
    cols = [f["name"] for f in t._schema_struct(md)["fields"]]
    df = _scan_files(
        spark, location, ddl, cols, [f.path for f in sel],
        with_pos_meta=any(d.content == 1 for d in dels),
    )
    if dels:
        df = _apply_deletes(spark, df, dels, t._schema_struct(md))
    df = df.select(*cols)

    seq = md["last-sequence-number"] + 1
    commit_dir = os.path.join(_data_dir(location), f"seq={seq}")
    df, spec_names = _partition_projection(t, md, df)
    zin = None
    try:
        if sort_by:
            # sort-ordered rewrite: range-cluster so each rewritten
            # partition's files cover DISJOINT sort-key ranges, then sort
            # within files — the harvested min/max bounds become tight and a
            # range probe on the sort column prunes at FILE level (Iceberg's
            # sort-order rewrite). Worth it for the columns hot range probes
            # name; plain binpack otherwise.
            keys = list(spec_names or []) + list(sort_by)
            df = df.repartitionByRange(n_out, *keys).sortWithinPartitions(*keys)
        elif zorder_by:
            # z-order rewrite: range-cluster + sort on the Morton code so
            # each file covers a compact hyper-rectangle of the combined key
            # space — min/max bounds prune probes on EITHER column. The
            # clustering column is derived (boundary sampling reads the
            # rewrite input once per z column, bounded collect) and dropped
            # before the write; only its ordering survives, as file layout.
            # The input is persisted first: sampling scans it twice per z
            # column (distinct estimate + boundary collect) and the range
            # partitioner samples it again — without the persist each pass
            # re-runs the file scan AND the MOR delete application. The
            # try/finally starts BEFORE the sampling/withColumn work so a
            # raise there (e.g. the bit-budget ValueError) cannot leak the
            # persisted input in the cache.
            zin = df.persist()
            zc = "__zorder__"
            while zc in zin.columns:  # never clobber a real table column
                zc += "_"
            df = zin.withColumn(
                zc,
                zorder_column(zin, list(zorder_by), bits=zorder_bits),
            )
            keys = list(spec_names or []) + [zc]
            df = (
                df.repartitionByRange(n_out, *keys)
                .sortWithinPartitions(*keys)
                .drop(zc)
            )
        elif spec_names:
            # hash-cluster on the partition columns so each rewritten
            # partition binpacks into its own task → one output file per
            # small partition (a bare coalesce interleaves partitions across
            # tasks and EXPANDS the file count it is meant to shrink)
            df = df.repartition(n_out, *spec_names)
        else:
            df = df.coalesce(n_out)
        _write_parquet_micros(df, commit_dir, partition_by=spec_names or None)
    finally:
        if zin is not None:
            zin.unpersist()
    new_files = _stat_commit_dir(t, md, location, commit_dir)
    summ = {
        "compaction-target-bytes": target_file_bytes,
        "compaction-partitions": len(picked),
    }
    if sort_by:
        summ["compaction-sort-order"] = ",".join(sort_by)
    if zorder_by:
        summ["compaction-zorder"] = ",".join(zorder_by)
    t.commit(
        new_files, operation="replace",
        replace_paths={f.path for f in sel},
        summary=summ,
    )
    return {
        "partitions_compacted": len(picked),
        "files_in": len(sel),
        "files_out": len(new_files),
    }


def maintain_iceberg(
    spark: SparkSession,
    location: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    keep_snapshots: int = 3,
    sort_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    expire_older_than_ms: int | None = None,
) -> dict:
    """The nightly maintenance window as one call, in dependency order:
    partition-scoped compaction (binpack small-file partitions, folding
    MOR deltas; sorted rewrite if ``sort_by``, z-order if ``zorder_by``),
    manifest rewrite (merge
    the day's per-commit manifests so scan planning opens few Avro
    files, not one per commit), snapshot expiry (keeps the newest
    ``keep_snapshots`` plus every ref head), then orphan-file cleanup
    (crash debris only — expiry already reclaimed expired snapshots'
    files). Each step is O(changed/unhealthy data), so the pass costs
    what the day's churn costs, never O(table)."""
    stats = compact_iceberg_partitions(
        spark, location, target_file_bytes=target_file_bytes,
        sort_by=sort_by, zorder_by=zorder_by,
    )
    t = IcebergLocalTable(location)
    mstats = t.rewrite_manifests()
    expired = t.expire_snapshots(
        keep_last=keep_snapshots, older_than_ms=expire_older_than_ms
    )
    orphans = t.remove_orphan_files()
    return {
        **stats,
        "manifests_merged": mstats["manifests_before"]
        - mstats["manifests_after"],
        "expired_files": len(expired),
        "orphan_files": len(orphans),
    }


def _write_delete_files(
    md: dict,
    location: str,
    df: DataFrame,
    content: int,
    equality_ids: list[int] | None = None,
    n_files: int = 1,
) -> list[DataFile]:
    """Write ``df`` as v2 delete file(s) under ``<location>/deletes/seq=N``
    and return stat'd :class:`DataFile` entries (content 1 or 2) ready for
    ``commit(operation='delete')``. Returns ``[]`` when ``df`` is empty —
    callers skip the commit entirely (an empty row delta is a no-op, not
    a snapshot) — and the empty ``seq=N`` dir is removed again: nothing
    commits, so the NEXT commit recomputes the same sequence number and
    its own ``errorifexists`` write must find the path free."""
    seq = md["last-sequence-number"] + 1
    out_dir = os.path.join(_deletes_dir(location), f"seq={seq}")
    _write_parquet_micros(df, out_dir, coalesce=n_files)
    files = collect_parquet_stats(_list_parquet(out_dir))
    files = [f for f in files if f.record_count > 0]
    if not files:
        shutil.rmtree(out_dir, ignore_errors=True)
    for f in files:
        f.content = content
        f.equality_ids = list(equality_ids) if equality_ids else None
    return files


def delete_iceberg_where(
    spark: SparkSession,
    location: str,
    filters: list[tuple],
    run_id: str | None = None,
) -> int | None:
    """Merge-on-read DELETE WHERE via position delete files.

    Scans only the files whose bounds MAY match (manifest pruning), finds
    the matching row ordinals with Spark's ``_metadata`` hidden column,
    and commits a ``delete`` snapshot carrying sorted
    ``(file_path, pos)`` position-delete parquet — no data file is
    rewritten, which is the point: at 100 TB a DELETE touching 0.1% of
    rows costs O(matching files scanned) + a KB-scale delete file, not a
    table rewrite. Readers subtract the positions until
    ``compact_iceberg`` folds them in. Returns the new snapshot id, or
    None when nothing matched (no-op, no snapshot).
    """
    t = IcebergLocalTable(location)
    md = t.metadata()
    files = t.scan(filters=filters)
    if not files:
        return None
    raw = (
        spark.read.schema(t.spark_ddl() + ", seq bigint")
        .option("basePath", _data_dir(location))
        .parquet(*[f.path for f in files])
    )
    # duplicate positions (rows already MOR-deleted) are harmless per
    # spec — the anti-join is idempotent — so no need to re-apply
    # existing deletes before matching
    matched = (
        _apply_filters(raw, filters)
        .select(
            _strip_scheme(F.col("_metadata.file_path")).alias("file_path"),
            F.col("_metadata.row_index").alias("pos"),
        )
        .sort("file_path", "pos")  # spec: position deletes are sorted
    )
    dels = _write_delete_files(md, location, matched, content=1)
    if not dels:
        return None
    summ = {"delete-mode": "position", "run_id": run_id} if run_id else {
        "delete-mode": "position"
    }
    return t.commit([], operation="delete", delete_files=dels, summary=summ)


def _field_ids(t: IcebergLocalTable, md: dict, names: list[str]) -> list[int]:
    by_name = {f["name"]: f["id"] for f in t._schema_struct(md)["fields"]}
    missing = [n for n in names if n not in by_name]
    if missing:
        raise ValueError(f"equality-delete columns not in schema: {missing}")
    return [by_name[n] for n in names]


def delete_iceberg_keys(
    spark: SparkSession,
    location: str,
    keys: DataFrame,
    run_id: str | None = None,
) -> int | None:
    """Merge-on-read DELETE by key via equality delete files.

    ``keys``'s columns name the equality fields (``equality_ids`` in the
    manifest); every data row with a STRICTLY smaller commit sequence
    matching all of them (null = null) is logically deleted. Unlike the
    position path this never scans the table — the delete file is just
    the key set, O(delta) to produce, which is why streaming CDC sinks
    emit equality deletes. Returns the new snapshot id, or None for an
    empty key set.
    """
    t = IcebergLocalTable(location)
    md = t.metadata()
    ids = _field_ids(t, md, keys.columns)
    dels = _write_delete_files(
        md, location, keys.dropDuplicates(), content=2, equality_ids=ids
    )
    if not dels:
        return None
    summ = {"delete-mode": "equality", "run_id": run_id} if run_id else {
        "delete-mode": "equality"
    }
    return t.commit([], operation="delete", delete_files=dels, summary=summ)


def merge_upsert_iceberg_mor(
    spark: SparkSession,
    location: str,
    delta: DataFrame,
    key: str,
    run_id: str | None = None,
    summary: dict | None = None,
    set_properties: dict | None = None,
) -> int:
    """Merge-on-read MERGE: one atomic ``delete`` snapshot that
    equality-deletes the delta's keys AND appends the delta's rows.

    The strict-sequence rule makes the single commit sound: the equality
    delete (content=2, seq=N) only matches data rows with seq<N, so the
    rows appended in the same snapshot (seq=N) survive. Cost is
    O(delta) — no base-table scan, no rewrite — vs ``merge_upsert_iceberg``
    (copy-on-write), which rewrites the table but leaves readers
    delete-free. The classic trade: MOR for write-heavy CDC ingest with
    periodic ``compact_iceberg``, COW for read-heavy tables.

    ``delta`` must carry at most one row per ``key`` (Iceberg MERGE's
    multiple-match rule): duplicate keys land at the SAME sequence, so
    the strict-sequence equality delete can order neither against the
    other and both would survive. The CDC sink pre-reduces its batches
    (``iceberg_sink(mode='upsert', order_by=...)``).
    """
    t = IcebergLocalTable(location)
    t.evolve_schema(delta.schema)
    out = mor_replace_keys(
        spark, location, delta.select(key).dropDuplicates(), delta, key,
        summary={"merge-mode": "merge-on-read", **(summary or {})},
        run_id=run_id, set_properties=set_properties,
    )
    if out is None:  # empty delta: nothing to delete, nothing to append
        snap = t.current_snapshot()
        return snap["snapshot-id"] if snap else -1
    return out


def mor_replace_keys(
    spark: SparkSession,
    location: str,
    keys: DataFrame,
    rows: DataFrame,
    key: str,
    run_id: str | None = None,
    summary: dict | None = None,
    set_properties: dict | None = None,
) -> int | None:
    """One atomic MOR commit: equality-delete every row matching ``keys``
    AND append ``rows`` — the general "replace these key groups" shape.

    Unlike ``merge_upsert_iceberg_mor`` (whose delete set is exactly the
    delta's keys), ``keys`` may cover key values with NO replacement rows
    — a group that shrank to nothing still gets tombstoned. This is what
    a derived table needs when its source is corrected at group
    granularity: delete the group's old rows, append its recomputed rows,
    atomically. Keys absent from the table are harmless (the equality
    delete matches nothing). Returns the snapshot id, or None when both
    sides are empty (no-op, no snapshot).
    """
    t = IcebergLocalTable(location)
    md = t.metadata()
    base_cols = [f["name"] for f in t._schema_struct(md)["fields"]]
    dels = _write_delete_files(
        md, location, keys.select(key).dropDuplicates(),
        content=2, equality_ids=_field_ids(t, md, [key]),
    )
    seq = md["last-sequence-number"] + 1
    commit_dir = os.path.join(_data_dir(location), f"seq={seq}")
    rows2, spec_names = _partition_projection(t, md, rows.select(*base_cols))
    _write_parquet_micros(
        rows2, commit_dir, partition_by=spec_names or None
    )
    files = [
        f for f in _stat_commit_dir(t, md, location, commit_dir)
        if f.record_count > 0
    ]
    if not files:
        # zero-row commit dir: remove it so the sequence number stays
        # free for the next commit's errorifexists write (delete-only
        # commits reference nothing under data/seq=N)
        shutil.rmtree(commit_dir, ignore_errors=True)
    if not dels and not files:
        return None
    summ = dict(summary or {})
    if run_id is not None:
        summ["run_id"] = run_id
    if not dels:  # nothing to delete: a plain append commit
        return t.commit(files, operation="append", summary=summ)
    return t.commit(files, operation="delete", delete_files=dels, summary=summ)


def changed_keys_iceberg(
    spark: SparkSession,
    location: str,
    from_snapshot_id: int,
    key: str,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Distinct ``key`` values touched by any snapshot after
    ``from_snapshot_id`` (exclusive) — the CDC "affected groups" scan a
    derived-table maintainer runs when the range is not append-only.

    Three sources, all O(changed files), never a base-table scan unless
    an equality delete's columns don't determine ``key``:

    - rows ADDED by each snapshot (appends and the append half of MOR
      merges): read the new data files, project ``key``;
    - position deletes: read the delete files' ``(file_path, pos)``,
      join back to ONLY the named data files via ``_metadata`` to
      recover the deleted rows' ``key``;
    - equality deletes: the key file itself when ``key`` is among its
      columns; otherwise a broadcast semi-join against the delete
      snapshot's PARENT (time travel), the one case that re-reads the
      table.
    """
    t = IcebergLocalTable(location)
    struct = t._schema_struct(t.metadata())
    ddl = schema_to_spark_ddl(struct)
    parts: list[DataFrame] = []
    for ch in t.snapshot_changes(from_snapshot_id, to_snapshot_id):
        if ch["data_files"]:
            # layout-grouped scan: basePath resolves path-only identity
            # columns, and files from different partition specs read in
            # separate groups
            parts.append(
                _scan_files(
                    spark, location, ddl, [key],
                    [f.path for f in ch["data_files"]],
                ).select(key)
            )
        pos = [d for d in ch["delete_files"] if d.content == 1]
        eqs = [d for d in ch["delete_files"] if d.content == 2]
        if pos:
            pdel = _pos_delete_frame(spark, pos)
            named = sorted({r["__fp"] for r in pdel.select("__fp")
                            .distinct().collect()})
            raw = _scan_files(
                spark, location, ddl, [key], named, with_pos_meta=True
            ).select(key, "__fp", "__pos")
            parts.append(
                raw.join(F.broadcast(pdel), ["__fp", "__pos"], "left_semi")
                .select(key)
            )
        for d in eqs:
            names, eq_ddl = _eq_delete_ddl(d.equality_ids or (), struct)
            kdf = spark.read.schema(eq_ddl).parquet(d.path)
            if key in names:
                parts.append(kdf.select(key))
                continue
            parent = ch["snapshot"].get("parent-snapshot-id")
            if parent is None:
                continue  # delete against an empty table matched nothing
            prior = read_iceberg(spark, location, snapshot_id=parent)
            cond = None
            for c in names:
                e = prior[c].eqNullSafe(kdf[c])
                cond = e if cond is None else (cond & e)
            parts.append(
                prior.join(F.broadcast(kdf), cond, "left_semi").select(key)
            )
    if not parts:
        # typed from the table schema, not a hardcoded string
        return spark.createDataFrame([], ddl).select(key)
    return reduce(DataFrame.unionByName, parts).distinct()


def merge_upsert_iceberg(
    spark: SparkSession,
    location: str,
    delta: DataFrame,
    key: str,
    run_id: str | None = None,
) -> int:
    """Copy-on-write MERGE: matched rows replaced, unmatched inserted.

    The rewrite is the same plan as Iceberg's copy-on-write MERGE bet:
    the delta is broadcast (CDC batches are small next to the table) and
    the base never shuffles. Commits an ``overwrite`` snapshot, so the
    pre-merge state stays time-travelable. ``delta`` must carry at most
    one row per ``key`` (Iceberg MERGE's multiple-match rule — duplicate
    delta keys would all survive the anti-join-and-union).
    """
    base = read_iceberg(spark, location)
    merged = base.join(
        F.broadcast(delta.select(key)), key, "left_anti"
    ).unionByName(delta.select(*base.columns))
    # the table exists (we just read it): write_iceberg takes its spec —
    # including any partition transforms — from the table metadata
    return write_iceberg(merged, location, mode="overwrite", run_id=run_id)
