"""Validation-gated publishing (S11) with an atomic per-run commit.

The reference validates run artifacts before they reach the published archive
— structural checks, PII scrubbing, non-finite numeric rejection
(/root/reference/src/batch_doc_vqa/benchmarks/published_runs.py:759-833) —
and gates archive visibility behind a manifest write
(published_runs.py:884-911). Engine form: a pure column-expression classifier
tags every row with a reject reason (or null = publishable); ``publish_run``
splits the frame into run-scoped ``published/run_id=…`` and
``quarantine/run_id=…`` directories and then — only after BOTH halves have
fully landed — creates a single ``_committed/<run_id>`` marker file. The
readers (``read_published`` / ``read_quarantine``) filter on the marker set,
so a crash between the two writes can never surface a torn run: the
half-written directories exist on disk but are invisible until the marker
appears, and a retry of the same run_id overwrites them idempotently. This
is the parquet emulation of an Iceberg two-table transaction; the marker
file plays the snapshot-commit role.

Store maintenance (the expire-snapshots analogue) is one pass for every
marker-committed store: ``compact_store`` → ``swap_marker_dir``, which
settles through ``recover_marker_store`` → ``vacuum_store``.
"""

from __future__ import annotations

import functools
import uuid

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F

# conservative PII pattern: emails (the reference's scrub list also covers
# names/ids, which here are structural columns, not free text)
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def publish_reject_reason(
    text_col: str | None = None,
    numeric_cols: tuple[str, ...] = (),
    json_cols: tuple[str, ...] = (),
    decode_status_col: str | None = None,
    allowed_decode: tuple[str, ...] = ("ok",),
):
    """Column expr: first failed validation rule, or NULL if publishable.

    Rule order (first match wins, mirroring the reference's short-circuit
    validation): empty text → PII → non-finite numerics → unparseable JSON →
    un-decoded media. ``decode_status_col`` is the strict-mode contract for
    multimodal rows: only fully-decoded metadata (``decode_status='ok'``,
    see operators/multimodal.py) reaches the published archive. Header-only
    probes ('probe', GIF/JPEG) quarantine as ``probe_only`` — distinct from
    ``stub_decode`` so operators can tell "real dims, no pixels" from
    "nothing decoded".
    """
    checks = []
    if text_col is not None:
        t = F.col(text_col)
        checks.append((t.isNull() | (F.trim(t) == ""), "empty"))
        checks.append((t.rlike(PII_EMAIL_RE), "pii_email"))
    for c in numeric_cols:
        col = F.col(c)
        checks.append((col.isNotNull() & (F.isnan(col) | (F.abs(col) == float("inf"))), "non_finite"))
    for c in json_cols:
        col = F.col(c)
        checks.append((col.isNotNull() & F.get_json_object(col, "$").isNull(), "bad_json"))
    if decode_status_col is not None:
        status = F.col(decode_status_col)
        if "probe" not in allowed_decode:
            checks.append((status == "probe", "probe_only"))
        checks.append((~status.isin(*allowed_decode, "probe"), "stub_decode"))
    reason = F.lit(None).cast("string")
    for cond, label in reversed(checks):
        reason = F.when(cond, F.lit(label)).otherwise(reason)
    return reason


@functools.lru_cache(maxsize=1)
def _hadoop(sc):
    """(``org.apache.hadoop.fs.Path`` class, Hadoop conf) of one
    SparkContext. Resolving the class costs five py4j reflection lookups,
    and a run calls ``_fs`` about a dozen times, so both are resolved once
    per context. The key is the context itself (held, so never confused
    with a later one at the same address): a new session gets fresh handles."""
    return sc._jvm.org.apache.hadoop.fs.Path, sc._jsc.hadoopConfiguration()


def _fs(spark: SparkSession, path: str):
    path_cls, conf = _hadoop(spark.sparkContext)
    jpath = path_cls(path)
    return jpath.getFileSystem(conf), jpath


def committed_publish_ids(spark: SparkSession, out_dir: str) -> list[str]:
    """run_ids whose publish transaction fully committed (marker exists).
    Only FILES count — a stray subdirectory (e.g. a nested rename artifact
    mid-maintenance-crash) must never read as a phantom run id."""
    fs, jpath = _fs(spark, f"{out_dir}/_committed")
    if not fs.exists(jpath):
        return []
    return sorted(s.getPath().getName() for s in fs.listStatus(jpath) if s.isFile())


class MaintenanceInProgressError(RuntimeError):
    """A store-maintenance lease (compaction) is held — a live maintenance
    pass, or a crashed one awaiting ``recover_marker_store``."""


class ConcurrentCommitError(RuntimeError):
    """A run committed while a maintenance swap was in flight. The racing
    run is PRESERVED (the maintenance pass rolls back); re-run it."""


def acquire_maintenance_lease(spark: SparkSession, root: str, payload: dict) -> None:
    """Atomic create-if-absent claim of ``{root}/_compact_lease`` — the
    single-writer gate every marker-committed store's maintenance pass uses
    (``compact_store`` here, ``compact_dedup_index`` in operators/dedup_index).
    The body records what the pass supersedes, for crash adjudication."""
    import json as _json

    fs, lease = _fs(spark, f"{root}/_compact_lease")
    fs.mkdirs(lease.getParent())
    try:
        out = fs.create(lease, False)  # overwrite=False: atomic claim
    except Exception as exc:
        # Py4J wraps the Java exception; only the ALREADY-exists condition
        # means "lease held" — a permissions/IO fault (including
        # 'does not exist' messages for a missing parent) must surface as
        # itself, not as misleading recovery advice (the same blanket-catch
        # mistake ADVICE r4 flagged on the resume path)
        msg = str(exc).lower()
        if not ("already exist" in msg or "filealreadyexists" in msg):
            raise
        raise MaintenanceInProgressError(
            f"maintenance lease already held at {root}/_compact_lease — another "
            "compaction is running, or a crashed one left state behind "
            "(run recover_marker_store first)"
        ) from exc
    out.write(bytearray(_json.dumps(payload).encode()))
    out.close()


def read_maintenance_lease(spark: SparkSession, root: str) -> dict | None:
    fs, lease = _fs(spark, f"{root}/_compact_lease")
    if not fs.exists(lease):
        return None
    try:
        return _read_json(spark, f"{root}/_compact_lease")
    except ValueError:
        # a crash mid-(re)write leaves an empty/torn lease body. The lease
        # FILE existing is what matters: report it as held-with-empty-body
        # so commit/vacuum still refuse and recover can still adjudicate
        # (an unknown distinguished marker simply takes the rollback path)
        # — raising here would brick every protocol entry point instead
        return {}


def release_maintenance_lease(spark: SparkSession, root: str) -> None:
    fs, lease = _fs(spark, f"{root}/_compact_lease")
    fs.delete(lease, False)


def _write_json(spark: SparkSession, path: str, obj) -> None:
    import json as _json

    fs, jpath = _fs(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(_json.dumps(obj).encode()))
    finally:
        out.close()


def _read_json(spark: SparkSession, path: str):
    import json as _json

    fs, jpath = _fs(spark, path)
    stream = fs.open(jpath)
    try:
        return _json.loads(bytes(stream.readAllBytes()).decode())
    finally:
        stream.close()


def _write_lease(spark: SparkSession, root: str, body: dict) -> None:
    """Overwrite the body of a lease this pass already HOLDS (never
    release/re-acquire: that window would let a commit slip in unrecorded)."""
    _write_json(spark, f"{root}/_compact_lease", body)


def commit_marker(spark: SparkSession, out_dir: str, run_id: str) -> None:
    """The single atomic file-create that makes a run visible — ONE
    definition shared by every marker-committed store: ``commit_run`` (batch
    publish, every streaming epoch and every dedup index snapshot),
    ``run_extraction`` (the extraction results + lineage), ``save_index``
    (persisted BM25 and IVF×PQ indexes) and IVF×PQ appends. It is the only
    lease check on the write path: staging under a lease is harmless (the
    dirs stay invisible), so the refusal sits at the commit point. Refuses
    while a maintenance lease is held on the same store: a marker committed
    mid-compaction would not be in the rebuilt marker set (the remaining
    probe-to-commit race is caught when the swap settles through
    ``recover_marker_store``, which rolls back rather than lose the run).
    Refuses, with ``FileExistsError``, a run id that a compaction
    consolidated: its rows are committed, and a second marker would show
    them twice. Callers check that early too, but only this check sits
    after a compaction that ran while the run was staging. On a store
    never compacted it costs one ``exists`` on ``_compacted``."""
    if read_maintenance_lease(spark, out_dir) is not None:
        raise MaintenanceInProgressError(
            f"commit blocked: store maintenance in progress at {out_dir} "
            "(lease held) — retry after it finishes, or run "
            "recover_marker_store if it crashed"
        )
    if run_id in consolidated_run_ids(spark, out_dir):
        raise FileExistsError(
            f"run {run_id!r} was consolidated by a compaction of {out_dir}: its "
            "rows are committed — commit under a new run_id"
        )
    fs, marker = _fs(spark, f"{out_dir}/_committed/{run_id}")
    fs.mkdirs(marker.getParent())
    fs.create(marker, True).close()


def clear_for_create(spark: SparkSession, path: str) -> None:
    """The create-only guard every persisted index shares: refuse a path
    holding ANY committed marker — it may be this index, or another
    writer's marker-committed store, and the torn-attempt cleanup below
    must never recursively delete committed data — otherwise clear a torn
    previous attempt (data written, marker never created). Refresh an index
    by saving to a new versioned path and flipping the pointer your jobs
    read: a destructive-first overwrite would destroy the only good copy
    mid-rebuild and break concurrent readers."""
    committed = committed_publish_ids(spark, path)
    if committed:
        raise FileExistsError(
            f"committed data already exists at {path} (markers: {committed}) "
            "— save to a new path"
        )
    fs, jpath = _fs(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)


def save_index(
    spark: SparkSession, path: str, writers: dict[str, DataFrameWriter], meta: dict
) -> None:
    """Create-only save of a persisted index: ``clear_for_create``, then
    each ``DataFrameWriter`` lands at ``<path>/<name>`` and ``meta.json``
    next to them, then one ``_committed/index`` marker makes the whole
    index visible — a torn save is invisible to ``load_index_meta``."""
    clear_for_create(spark, path)
    for name, writer in writers.items():
        writer.parquet(f"{path}/{name}")
    _write_json(spark, f"{path}/meta.json", meta)
    commit_marker(spark, path, "index")


def load_index_meta(spark: SparkSession, path: str, what: str) -> tuple[list[str], dict]:
    """(committed markers, meta) of an index saved by ``save_index``;
    raises FileNotFoundError when its ``index`` marker is missing (a torn
    save is invisible by design)."""
    markers = committed_publish_ids(spark, path)
    if "index" not in markers:
        raise FileNotFoundError(
            f"no committed {what} under {path} (save it first; a torn save is "
            "invisible by design)"
        )
    return markers, _read_json(spark, f"{path}/meta.json")


def _schema_versions(spark: SparkSession, out_dir: str, table: str) -> list[tuple[int, str]]:
    """Sorted (version, filename) of ``_schema/<table>.v<N>.json`` files."""
    fs, sdir = _fs(spark, f"{out_dir}/_schema")
    if not fs.exists(sdir):
        return []
    out = []
    prefix = f"{table}.v"
    for st in fs.listStatus(sdir):
        name = st.getPath().getName()
        if name.startswith(prefix) and name.endswith(".json"):
            try:
                out.append((int(name[len(prefix):-len(".json")]), name))
            except ValueError:
                continue
    return sorted(out)


def update_schema_store(spark: SparkSession, out_dir: str, table: str, schema) -> None:
    """Persist the union of the store-level schema with ``schema`` —
    VERSIONED compare-and-swap, so concurrent publishers can never lose
    each other's columns (a plain read-modify-write of one file would let
    the last writer drop a column the other just committed — and an
    explicit-schema read silently omits missing columns, unlike the old
    per-read mergeSchema it replaces).

    Protocol (the Iceberg metadata-versioning emulation): read the latest
    ``_schema/<table>.v<N>.json``; if the union adds nothing, stop (no
    version churn on ordinary publishes); else atomically create
    ``v<N+1>`` with overwrite=False — a concurrent writer that claimed the
    version first makes the create fail, and we re-read and retry on top
    of ITS union. Old versions are pruned by vacuum.

    The union is additive-only: a field re-appearing with a different type
    raises — this emulation does not do type-widening evolution (that is
    Iceberg's job). Written BEFORE the run's marker: a torn run's extra
    nullable columns in the union are harmless, while the reverse order
    could commit a run whose columns the stored schema lacks."""
    from pyspark.sql.types import StructType

    for _ in range(50):
        versions = _schema_versions(spark, out_dir, table)
        latest_n = versions[-1][0] if versions else 0
        latest = _latest_schema(spark, out_dir, table, versions)
        existing = latest[1] if latest is not None else None
        if existing is not None:
            by_name = {f.name: f for f in existing.fields}
            for f in schema.fields:
                prev = by_name.get(f.name)
                if prev is not None and prev.dataType != f.dataType:
                    raise ValueError(
                        f"schema store {out_dir}/{table}: field {f.name!r} changed "
                        f"type {prev.dataType} -> {f.dataType}; additive-only "
                        "evolution is supported (use a new store or a real table "
                        "format for type changes)"
                    )
            new_fields = [f for f in schema.fields if f.name not in by_name]
            if not new_fields:
                return  # union adds nothing — no new version
            merged = StructType([*existing.fields, *new_fields])
        else:
            merged = schema
        # write-then-rename + nonce verify: the version file appears
        # ATOMICALLY with its full content, so a reader/merger can never
        # observe a claimed-but-empty version (which would make a
        # concurrent writer merge from the version BEFORE it and silently
        # drop this writer's columns). Rename-onto-existing fails on HDFS
        # but silently REPLACES on a POSIX local fs — so after the rename
        # we re-read and check our nonce: the loser (its content replaced,
        # or its rename failed) retries on the next version, merging on
        # top of the winner's union. No interleaving loses a column.
        import uuid as _uuid

        nonce = _uuid.uuid4().hex
        fs, tmp = _fs(spark, f"{out_dir}/_schema/.tmp-{nonce}")
        fs.mkdirs(tmp.getParent())
        payload = {"nonce": nonce, "schema": merged.jsonValue()}
        _write_json(spark, f"{out_dir}/_schema/.tmp-{nonce}", payload)
        version = f"{out_dir}/_schema/{table}.v{latest_n + 1}.json"
        if not fs.rename(tmp, _fs(spark, version)[1]):
            fs.delete(tmp, False)  # lost the version race — re-read, merge
            continue
        try:
            landed = _read_json(spark, version)
        except ValueError:
            landed = {}
        if landed.get("nonce") == nonce:
            return
        # a peer replaced our rename (POSIX semantics) — retry on top
    raise IOError(
        f"schema store {out_dir}/{table}: could not claim a version after 50 "
        "attempts (pathological write contention)"
    )


def _latest_schema(spark: SparkSession, out_dir: str, table: str, versions=None):
    """(version, StructType) of the latest READABLE schema version, or None.
    A torn newest version file falls back to the version before it.
    ``versions`` is a listing the caller already holds (``_schema_versions``)."""
    from pyspark.sql.types import StructType

    if versions is None:
        versions = _schema_versions(spark, out_dir, table)
    for n, name in reversed(versions):
        try:
            d = _read_json(spark, f"{out_dir}/_schema/{name}")
            # nonce-wrapped (current) or bare StructType json (early r5)
            return n, StructType.fromJson(d["schema"] if "schema" in d else d)
        except (ValueError, KeyError, TypeError):
            continue  # torn version file — try the one before it
    return None


def read_schema_store(spark: SparkSession, out_dir: str, table: str):
    """The latest READABLE persisted store-level schema, or None (no run
    committed yet). A torn write of the newest version file falls back to
    the version before it — never to None, which would make the next
    update's union start from scratch and drop prior columns."""
    latest = _latest_schema(spark, out_dir, table)
    return latest[1] if latest is not None else None


def _read_table(spark: SparkSession, out_dir: str, table: str) -> DataFrame:
    """Every run dir of a table (committed or not): read with the stored
    schema, or with ``mergeSchema`` for stores written before the schema
    store existed. A table dir without ``run_id=`` partitions (a dedup
    index written before the shared layout, with ``snap=`` dirs) raises
    ValueError naming the path — never an unfiltered or empty read."""
    stored = read_schema_store(spark, out_dir, table)
    if stored is not None:
        # Spark appends the run_id partition column to a user schema and
        # NULL-fills fields absent from older files — mergeSchema semantics
        # at zero footer cost
        df = spark.read.schema(stored).parquet(f"{out_dir}/{table}")
    else:
        df = spark.read.option("mergeSchema", "true").parquet(f"{out_dir}/{table}")
    if "run_id" not in df.columns:
        raise ValueError(
            f"{out_dir}/{table} has no run_id= run dirs (columns {df.columns}): "
            "its layout predates the shared commit protocol. Rebuild it at a new "
            "path (a dedup index: build_dedup_index from the corpus)"
        )
    return df


def read_committed_table(spark: SparkSession, out_dir: str, table: str) -> DataFrame:
    """Committed-runs-only view of a marker-committed table.

    Raises FileNotFoundError with a clear message when NO run has ever
    committed (a half-written first run leaves table dirs you must not
    read — "nothing committed yet" is the only safe answer; a raw
    PATH_NOT_FOUND from the torn half would be misleading).

    Schema comes from the commit-time schema store (one tiny JSON read, no
    per-run footer fetches); stores written before the schema store existed
    fall back to ``mergeSchema``. The isin literal list grows with run
    count — ``compact_store`` consolidates old runs into one partition so
    the live marker set stays small (the Iceberg analogue is snapshot
    expiration); compacted rows keep their ORIGINAL ``run_id`` via the
    ``src_run_id`` column, so compaction is invisible in output.
    """
    ids = committed_publish_ids(spark, out_dir)
    if not ids:
        raise FileNotFoundError(
            f"no committed runs under {out_dir} (the _committed marker set is "
            "empty — a torn first run is invisible by design)"
        )
    # partition filter on the committed id set: torn (marker-less) run dirs
    # are pruned at the directory level, never scanned
    df = _read_table(spark, out_dir, table).filter(F.col("run_id").isin(ids))
    if "src_run_id" in df.columns:
        df = df.withColumn(
            "run_id", F.coalesce(F.col("src_run_id"), F.col("run_id"))
        ).drop("src_run_id")
    return df


def read_published(spark: SparkSession, out_dir: str) -> DataFrame:
    """The published archive — committed runs only (never a torn run)."""
    return read_committed_table(spark, out_dir, "published")


def read_quarantine(spark: SparkSession, out_dir: str) -> DataFrame:
    """The quarantine table — committed runs only (never a torn run)."""
    return read_committed_table(spark, out_dir, "quarantine")


def publish_run(
    spark: SparkSession,
    results: DataFrame,
    out_dir: str,
    text_col: str | None = "text",
    numeric_cols: tuple[str, ...] = (),
    json_cols: tuple[str, ...] = (),
    decode_status_col: str | None = None,
    run_id: str | None = None,
    scrub_pii: bool = False,
    _crash_before_commit: str | None = None,
) -> dict:
    """Gate → split → staged run-scoped writes → atomic marker commit.

    Returns THIS RUN's {'published': n, 'quarantined': n, 'run_id': id}.

    ``scrub_pii=True`` selects the reference's archive semantics — PII is
    SCRUBBED, not dropped (published_runs.py:759-833 rewrites identifiers
    before the row reaches the archive): ``text_col`` runs through the
    ``operators/pii`` redaction cascade BEFORE the gate classifier, so a
    row whose only problem was PII publishes with typed placeholders (and
    an ``n_redactions`` audit column); the quarantine keeps catching
    everything else. Default False = detect-and-quarantine.

    Counts come from one tiny aggregate over the tagged frame *before* the
    writes — not a read-back of the cumulative tables (which would cost two
    extra full scans per publish at scale and report prior runs' rows as this
    run's). The tagged frame is localCheckpointed so the gate classifier runs
    once, and count + both writes reuse the same materialization.

    Atomicity: both halves land in ``<table>/run_id=<id>`` directories
    (mode=overwrite, so a retried run_id is idempotent; once a compaction
    has consolidated the run, its id is refused with ``FileExistsError``,
    since a re-commit would sit beside the compacted rows); the run becomes
    visible to ``read_published``/``read_quarantine`` only when the single
    ``_committed/<id>`` marker file is created after both writes succeed.
    ``_crash_before_commit`` is a test-only fault-injection point: 'published'
    raises after the published half, 'quarantine' after both halves but
    before the marker — the kill-between-writes test drives both.
    """
    run_id = run_id or "p" + uuid.uuid4().hex[:12]
    if run_id in consolidated_run_ids(spark, out_dir):
        raise FileExistsError(
            f"run {run_id!r} was consolidated by a compaction of {out_dir}: its "
            "rows are committed — publish under a new run_id"
        )
    if scrub_pii and text_col is not None:
        from ..operators.pii import redact_columns

        col, total = redact_columns(text_col)
        results = results.withColumn("n_redactions", total).withColumn(text_col, col)
    tagged = results.withColumn(
        "_reject",
        publish_reject_reason(text_col, numeric_cols, json_cols, decode_status_col),
    ).localCheckpoint(eager=True)
    counts = {
        r["_k"]: r["n"]
        for r in tagged.groupBy(F.col("_reject").isNull().alias("_k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    commit_run(spark, out_dir, run_id, tagged_tables(tagged), _crash_before_commit)
    return {
        "published": counts.get(True, 0),
        "quarantined": counts.get(False, 0),
        "run_id": run_id,
    }


def tagged_tables(tagged: DataFrame) -> dict[str, DataFrame]:
    """The gate's split of a ``_reject``-tagged frame into the two tables
    of a publish run — shared by the batch publisher and its streaming
    twin, so the two sinks cannot drift."""
    return {
        "published": tagged.filter(F.col("_reject").isNull()).drop("_reject"),
        "quarantine": tagged.filter(F.col("_reject").isNotNull()).withColumnRenamed(
            "_reject", "reject_reason"
        ),
    }


def commit_run(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    tables: dict[str, DataFrame],
    _crash_after: str | None = None,
) -> None:
    """The staged-write + marker-commit protocol for runs whose tables are
    all known up front (batch publish, every streaming epoch via
    ``streaming.publish_stream.epoch_stream``): ``stage_table`` per table,
    then ``commit_marker``. ``run_extraction`` stages its two tables itself
    (lineage is known only once the results write has run) and commits the
    same way. ``_crash_after`` is a test-only fault-injection point: raise right
    after the named table's write."""
    for name, df in tables.items():
        stage_table(spark, out_dir, run_id, name, df)
        if _crash_after == name:
            raise RuntimeError(f"fault injection: crashed after the {name} write")
    commit_marker(spark, out_dir, run_id)  # single atomic create = the commit point


def stage_table(spark: SparkSession, out_dir: str, run_id: str, name: str, df: DataFrame) -> None:
    """One table of a marker-committed run: its schema into the schema
    store, then its data to ``<out_dir>/<name>/run_id=<run_id>``
    (overwrite = idempotent retry of the same run_id). Invisible to
    ``read_committed_table`` until ``commit_marker`` creates the run's
    marker. Schema BEFORE data (and so before the marker): a crash leaves
    extra nullable columns in the union (harmless), every populated table
    has a stored schema, and no run can commit columns the stored schema
    lacks."""
    update_schema_store(spark, out_dir, name, df.schema)
    df.write.mode("overwrite").parquet(f"{out_dir}/{name}/run_id={run_id}")


def stage_rows(
    spark: SparkSession, out_dir: str, run_id: str, name: str, frame, schema
) -> None:
    """``stage_table`` for rows the driver already holds (a pandas
    ``frame`` with ``schema``'s columns, e.g. an extraction run's
    ≤``num_buckets`` lineage rows), without a Spark job: the same schema
    store update first, then the rows encoded by pyarrow with ``schema``'s
    Arrow form as ONE parquet file, written through the store's Hadoop
    FileSystem (any scheme) over a cleared ``run_id=<run_id>`` dir, so a
    retried run id keeps one file. Timestamps are floored to µs, since
    Spark reads no ``TIMESTAMP(NANOS)``; a naive one reads as UTC."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    update_schema_store(spark, out_dir, name, schema)
    stamps = frame.select_dtypes(include=["datetime", "datetimetz"])
    frame = frame.assign(**{c: stamps[c].dt.floor("us") for c in stamps})
    buf = pa.BufferOutputStream()
    pq.write_table(
        pa.Table.from_pandas(frame, schema=to_arrow_schema(schema), preserve_index=False), buf
    )
    part = f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
    fs, jpath = _fs(spark, f"{out_dir}/{name}/run_id={run_id}/{part}")
    fs.delete(jpath.getParent(), True)
    out = fs.create(jpath, False)
    try:
        out.write(bytearray(buf.getvalue().to_pybytes()))
    finally:
        out.close()


def _store_tables(spark: SparkSession, root: str) -> dict[str, tuple | None]:
    """Each child dir of ``root`` not named ``_…`` → its latest readable
    stored schema ``(version, StructType)``, or None: a dir without one was
    not written through ``stage_table`` (a pre-protocol store, an index)."""
    fs, jroot = _fs(spark, root)
    if not fs.exists(jroot):
        return {}
    return {
        st.getPath().getName(): _latest_schema(spark, root, st.getPath().getName())
        for st in fs.listStatus(jroot)
        if st.isDirectory() and not st.getPath().getName().startswith("_")
    }


def consolidated_run_ids(
    spark: SparkSession, root: str, live: list[str] | None = None
) -> set[str]:
    """Run ids folded into a compaction whose marker is in ``live`` (the
    committed set when not given), from its ``_compacted/<compact_id>.json``
    record; a re-compaction carries its targets' ids forward. Writers treat
    them like live ids: restaging one would commit its rows twice. Reads
    files only — no Spark job."""
    fs, rdir = _fs(spark, f"{root}/_compacted")
    if not fs.exists(rdir):
        return set()
    live = set(committed_publish_ids(spark, root) if live is None else live)
    ids: set[str] = set()
    for st in fs.listStatus(rdir):
        name = st.getPath().getName()
        if name.removesuffix(".json") in live:
            ids.update(_read_json(spark, f"{root}/_compacted/{name}"))
    return ids


def compact_store(
    spark: SparkSession,
    root: str,
    run_ids: list[str] | None = None,
    _test_hook_before_swap=None,
) -> str:
    """Consolidate committed runs of any marker-committed store into ONE
    partition per table and shrink the live marker set — the Iceberg
    expire-snapshots analogue that removes the ~10^4-run ceiling of the
    ``isin``-literal marker list (VERDICT r4 #5). Every table with a stored
    schema is consolidated; ``read_committed_table`` output is IDENTICAL
    before and after (rows keep their original ``run_id`` through
    ``src_run_id``). ``run_ids=None`` compacts every committed run; an
    explicit subset keeps the others individually addressable. A root
    with a table dir lacking a stored schema (a ``save_index`` root)
    raises ValueError naming it. Returns the compaction id.

    Lease, racer rollback (``ConcurrentCommitError``) and crash recovery
    are ``_compact``'s; superseded run dirs stay for concurrent readers
    until ``vacuum_store``."""
    tables = _store_tables(spark, root)
    for table, latest in tables.items():
        if latest is None:
            raise ValueError(
                f"compact_store: {root}/{table} has no stored schema — compacting "
                "the other tables of this store would hide it"
            )

    def consolidate(compact_id: str, targets: list[str]) -> None:
        for table in tables:
            df = _read_table(spark, root, table).filter(F.col("run_id").isin(targets))
            src = F.col("run_id")
            if "src_run_id" in df.columns:  # re-compacting an already-compacted store
                src = F.coalesce(F.col("src_run_id"), src)
            df = df.withColumn("_src", src).drop("run_id", "src_run_id")
            df = df.withColumnRenamed("_src", "src_run_id")
            # stage_table's order, but only src_run_id joins the stored
            # schema: the all-nullable read-back would clash with
            # non-nullable nested fields (lineage.failure_urls)
            update_schema_store(spark, root, table, df.select("src_run_id").schema)
            df.write.mode("overwrite").parquet(f"{root}/{table}/run_id={compact_id}")

    return _compact(spark, root, run_ids, consolidate, _test_hook_before_swap)


def _compact(spark: SparkSession, root: str, run_ids, stage, _test_hook_before_swap) -> str:
    """The one compaction skeleton (``compact_store``, ``compact_dedup_index``):
    lease → target check → ``stage(compact_id, targets)`` → hook → record
    of the consolidated ids → swap. ``compact-<hex12>`` ids sort before
    the streaming twins' ``e…`` epochs (``pairs_for_snapshot``)."""
    compact_id = "compact-" + uuid.uuid4().hex[:12]
    # claim the lease, then capture the marker set UNDER it (a marker
    # committed between a first look and the claim belongs to that set) and
    # record it, so recover adjudicates from the set this pass uses
    acquire_maintenance_lease(spark, root, {"distinguished": compact_id, "pre_markers": []})
    pre = committed_publish_ids(spark, root)
    _write_lease(spark, root, {"distinguished": compact_id, "pre_markers": pre})
    targets = list(run_ids) if run_ids is not None else list(pre)
    unknown = [r for r in targets if r not in pre]
    if unknown or not targets:
        release_maintenance_lease(spark, root)
        raise ValueError(
            f"compaction of {root}: "
            + (f"not committed: {unknown}" if unknown else "nothing to compact")
        )
    stage(compact_id, targets)
    if _test_hook_before_swap is not None:
        _test_hook_before_swap()
    # before the swap: the record exists whenever its marker is live
    folded = consolidated_run_ids(spark, root, targets) | set(targets)
    _write_json(spark, f"{root}/_compacted/{compact_id}.json", sorted(folded))
    swap_marker_dir(spark, root, sorted(set(pre) - set(targets)) + [compact_id], pre)
    return compact_id


def swap_marker_dir(
    spark: SparkSession,
    root: str,
    new_markers: list[str],
    pre_markers: list[str],
) -> None:
    """Replace ``{root}/_committed`` with ``new_markers``, then settle
    through ``recover_marker_store`` — the decision table a crashed pass
    gets, so a live and a crashed pass cannot disagree.

    Caller must HOLD the maintenance lease (``_compact``); this
    function releases it on every exit path except a raised IOError
    (crash-equivalent — ``recover_marker_store`` adjudicates).

    A commit whose lease probe passed before the lease landed can appear
    in three windows, all resolved as "the racer wins, the pass rolls
    back, nothing is ever lost" (``ConcurrentCommitError``):

    1. before the aside rename: its marker rides into ``_committed_old``;
    2. BETWEEN the two renames: ``commit_marker``'s mkdirs recreates the
       live dir, so the new set is not activated (or lands nested inside
       it) and the distinguished marker is not live;
    3. after activation, before recover lists the live dir: its marker is
       live but not in ``new_markers``.

    A commit after that listing is simply live: visible, data intact, not
    part of the compacted partition."""
    fs, committed = _fs(spark, f"{root}/_committed")
    nxt = _fs(spark, f"{root}/_committed_next")[1]
    old = _fs(spark, f"{root}/_committed_old")[1]
    # record the full plan in the HELD lease so recover can tell racer
    # markers from our own in every state
    dist = sorted(set(new_markers) - set(pre_markers))
    _write_lease(spark, root, {
        "distinguished": dist[0] if dist else new_markers[-1],
        "pre_markers": list(pre_markers),
        "new_markers": list(new_markers),
    })
    for stale in (nxt, old):  # debris from a previously recovered pass
        if fs.exists(stale):
            fs.delete(stale, True)
    fs.mkdirs(nxt)
    for m in new_markers:
        fs.create(_fs(spark, f"{root}/_committed_next/{m}")[1], True).close()
    if fs.exists(committed) and not fs.rename(committed, old):
        raise IOError(f"maintenance swap: could not move live marker dir aside at {root}")
    # never activate over a live dir a racer recreated (window 2): HDFS
    # renames INTO an existing dir, POSIX replaces an empty one
    if not fs.exists(committed) and not fs.rename(nxt, committed) and not fs.exists(committed):
        raise IOError(
            f"maintenance swap: could not activate new marker dir at {root} "
            "(run recover_marker_store)"
        )
    if recover_marker_store(spark, root).startswith("rolled_back"):
        racers = sorted(set(committed_publish_ids(spark, root)) - set(pre_markers))
        raise ConcurrentCommitError(
            f"commits {racers} landed during the maintenance swap of {root}; "
            "the pass rolled back and every committed marker is intact — re-run it"
        )


def recover_marker_store(spark: SparkSession, root: str) -> str:
    """Settle a maintenance swap from the lease record — the last step of
    every ``swap_marker_dir`` and the repair of a crashed one: complete it
    or roll it back. Idempotent; 'clean' when nothing is wrong. ONE
    implementation for every marker-committed store. Decision table (the
    lease body records the distinguished marker, the marker set it
    superseded and, once the swap started, the new set):

    - no lease → 'clean';
    - live ``_committed`` holds the distinguished marker: racers in the
      aside dir or live dir → ROLL BACK (restore the aside set, racers
      folded in; the maintenance pass loses); no racers, or no aside dir
      left (the swap had completed) → COMPLETE;
    - otherwise (never activated, activated into a racer's recreated
      live dir, or a torn lease body) → ROLL BACK: restore the aside dir,
      folding in every FILE marker a racer committed into the live dir; a
      nested ``_committed_next`` holds only our own markers and goes with
      the retracted dir — committed markers are never stranded in
      ``_committed_old``."""
    lease = read_maintenance_lease(spark, root)
    if lease is None:
        return "clean"
    dist = lease.get("distinguished") or lease.get("compact_id") or lease.get("snap")
    pre = set(lease.get("pre_markers", []))
    new = set(lease.get("new_markers", [dist] if dist else []))
    fs, committed = _fs(spark, f"{root}/_committed")
    old = _fs(spark, f"{root}/_committed_old")[1]
    nxt = _fs(spark, f"{root}/_committed_next")[1]
    live = committed_publish_ids(spark, root)
    swapped = dist is not None and dist in live
    racers = sorted(m for m in live if m not in new)
    if swapped:
        aside = (
            [s.getPath().getName() for s in fs.listStatus(old) if s.isFile()]
            if fs.exists(old)
            else []
        )
        racers = sorted({*racers, *(m for m in aside if m not in pre)})
        if not racers or not fs.exists(old):
            # a missing aside dir means the swap had completed (it is
            # deleted only then): live racers landed after it and are
            # already visible. Rolling back here would rebuild the live set
            # from the racers alone, dropping the distinguished marker and
            # every pre marker (compacted data invisible, then vacuumed).
            if fs.exists(old):
                fs.delete(old, True)
            release_maintenance_lease(spark, root)
            if racers:
                return f"completed (concurrent commits already live: {racers})"
            return "completed"
    # ROLL BACK: restore the aside set with every racer folded in before
    # the live dir is retracted — their commits must survive
    if fs.exists(old):
        for m in racers:
            fs.create(_fs(spark, f"{root}/_committed_old/{m}")[1], True).close()
        if fs.exists(committed):
            fs.delete(committed, True)
        if not fs.rename(old, committed):
            raise IOError(f"recover: could not restore marker dir at {root}")
    if fs.exists(nxt):
        fs.delete(nxt, True)
    release_maintenance_lease(spark, root)
    return f"rolled_back (preserved concurrent commits: {racers})" if swapped else "rolled_back"


def vacuum_store(spark: SparkSession, root: str, grace_seconds: int = 86400) -> list[str]:
    """The deferred-GC half of compaction, one for every marker-committed
    store: delete run directories whose marker is gone (compacted away, or
    torn runs that never committed), prune superseded schema versions, and
    drop the ``_compacted`` records of compactions whose marker is gone
    (a re-compaction carried their ids forward; a rolled-back pass's
    record never counted). Only the ``run_id=`` dirs of tables with a
    stored schema (``_store_tables``) are candidates. Anything else is
    never touched: a pre-protocol extraction store's unmarked
    ``results|lineage/run_id=`` dirs (no schema store), a pre-protocol
    index's ``snap=`` dirs, a persisted index's files. Refuses under a
    live lease. Returns the removed run_ids.

    ``grace_seconds`` (Iceberg/Delta vacuum-retention analogue): a
    marker-less directory modified within the window is SKIPPED — it may be
    an IN-FLIGHT commit that has written data but not yet its marker;
    deleting it would leave a committed run with missing data. Only drop
    the grace (0) when no writer can be active.
    """
    if read_maintenance_lease(spark, root) is not None:
        raise MaintenanceInProgressError(
            f"vacuum refused: maintenance lease held at {root} "
            "(finish or recover_marker_store first)"
        )
    live = set(committed_publish_ids(spark, root))
    now_ms = spark._jvm.System.currentTimeMillis()
    fs, _ = _fs(spark, root)
    deleted: set[str] = set()
    for table, latest in _store_tables(spark, root).items():
        if latest is None:
            continue  # not written through the protocol
        for st in fs.listStatus(_fs(spark, f"{root}/{table}")[1]):
            name = st.getPath().getName()
            if not name.startswith("run_id=") or name[len("run_id="):] in live:
                continue
            if now_ms - st.getModificationTime() < grace_seconds * 1000:
                continue  # possibly an in-flight commit — not torn, just young
            fs.delete(st.getPath(), True)
            deleted.add(name[len("run_id="):])
        # keep everything from the latest READABLE version up (a torn
        # newest file must keep its predecessor)
        for n, name in _schema_versions(spark, root, table):
            if n < latest[0]:
                fs.delete(_fs(spark, f"{root}/_schema/{name}")[1], False)
    rdir = _fs(spark, f"{root}/_compacted")[1]
    for st in fs.listStatus(rdir) if fs.exists(rdir) else []:
        if st.getPath().getName().removesuffix(".json") not in live:
            fs.delete(st.getPath(), False)
    return sorted(deleted)
