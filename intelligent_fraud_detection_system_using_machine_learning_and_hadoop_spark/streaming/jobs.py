"""Structured Streaming jobs (SURVEY.md §2.9 / §7 step 8).

The reference's upload→score loop (``app.py:22-32``) is a manual
micro-batch; here it's a real stream:

* :func:`stream_events_hourly` — the events_hourly batch aggregation
  run incrementally (windowed agg + watermark). With an availableNow
  trigger over static files it must produce exactly the batch answer,
  which the driver's DuckDB oracle checks.
* :func:`stream_score_claims` — file-source claims scored per
  micro-batch via ``foreachBatch`` reusing the batch rule engine.
  NOTE the reference's batch-relative ML threshold (M6) is preserved
  per micro-batch — the verdict for a row depends on its batch, which
  is the reference's own semantic (SURVEY.md "batch-relative threshold
  doesn't stream" design note).
"""

from __future__ import annotations

import os
from itertools import count

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.rules import RuleConfig, score_claims
from ..session import enable_nanos_reads

_sink_ids = count()


# ---------------------------------------------------------------------------
# The drain kit. Every availableNow job below is a source
# (:func:`_table_stream` or :func:`_split_stream`), one :func:`_drain`,
# and — for the foreachBatch folds — one :class:`_ParquetFoldState`.
# ---------------------------------------------------------------------------


def _drain(
    stream: DataFrame, label: str = "drain", mode: str = "append", fold=None
) -> DataFrame | None:
    """Run ``stream`` under an availableNow trigger and block until every
    available input is processed. With ``fold``, each micro-batch goes
    to ``foreachBatch(fold)`` and nothing is returned. Otherwise the
    rows land in a fresh memory sink ``{label}_sink_{n}`` written in
    output ``mode``, and that sink's table is returned."""
    w, name = stream.writeStream, None
    if fold is None:
        name = f"{label}_sink_{next(_sink_ids)}"
        w = w.format("memory").queryName(name).outputMode(mode)
    else:
        w = w.foreachBatch(fold)
    w.trigger(availableNow=True).start().awaitTermination()
    return stream.sparkSession.table(name) if name else None


def _table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """One testdata table's parquet file as a stream (a single
    micro-batch under availableNow). The source is declared with the
    file's raw schema; events' ``ts`` is then normalized by the batch
    reader's rules (bigint nanos → µs; TIMESTAMP_NTZ → TIMESTAMP,
    value-identical under the UTC session tz), so batch and stream
    plans are interchangeable and ``withWatermark`` is always legal."""
    from ..sources.readers import normalize_event_ts

    enable_nanos_reads(spark)
    raw = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet")).schema
    stream = (
        spark.readStream.schema(raw)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(stream) if table == "events" else stream


def _src_fingerprint(path: str) -> str:
    """Content fingerprint of a stream-split source (cache.py::
    dataset_fingerprint with an existence fallback). Every split cache
    key mixes it in: a fixture regenerated in place at the same path
    must invalidate its cached split, or the stream would read the old
    generation's rows while the batch twin reads the new ones."""
    from ..cache import dataset_fingerprint

    try:
        return dataset_fingerprint(path)
    except OSError:
        return "nofp"


def _split_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    n_files: int,
    by: str | None = None,
    ordered: bool = False,
    where: str | None = None,
    cols: tuple[str, ...] = (),
) -> DataFrame:
    """A testdata table (``read_table`` rows, optionally filtered by the
    SQL predicate ``where`` and projected to ``cols``) split into
    ``n_files`` parquet files and streamed one file per micro-batch
    (``maxFilesPerTrigger=1``), so fold state must survive across
    genuine batches, not just within one.

    Layouts:

    * ``by=None`` — round-robin split;
    * ``by=col`` — hash split on ``col``: every row of a key lands in
      one file, so a per-key expansion (an order's co-order pairs) is
      complete within the one micro-batch that carries it;
    * ``by=col, ordered=True`` — range split on ``col``, sorted within
      each file, with file mtimes staggered in range order. The file
      source schedules oldest-mtime-first, so micro-batches arrive in
      ``col`` order (a real feed's ingestion order), and
      ``repartitionByRange`` assigns equal keys to one partition, so a
      same-second (same-day) tie group never splits across
      micro-batches — the property the trailing-window and lag folds
      need to reproduce their batch RANGE frames exactly.

    The split is cached under ``tempfile.gettempdir()``, keyed by every
    layout argument plus the source's content fingerprint, and reused
    only once Spark's ``_SUCCESS`` marker has committed it."""
    import hashlib
    import tempfile
    import time

    from ..sources.readers import read_table

    src = read_table(spark, sf_dir, table)
    if where is not None:
        src = src.where(where)
    if cols:
        src = src.select(*cols)
    fp = _src_fingerprint(os.path.join(sf_dir, f"{table}.parquet"))
    sig = f"{sf_dir}:{table}:{n_files}:{by}:{ordered}:{where}:{cols}:{fp}"
    kind = "ordered" if ordered else "stream"
    out = os.path.join(
        tempfile.gettempdir(),
        f"ifds_{table}_{kind}_{hashlib.md5(sig.encode()).hexdigest()[:10]}",
    )
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        if ordered:
            parts = src.repartitionByRange(n_files, by).sortWithinPartitions(by)
        elif by is not None:
            parts = src.repartition(n_files, by)
        else:
            parts = src.repartition(n_files)
        parts.write.mode("overwrite").parquet(out)
        if ordered:
            # part-00000 holds the lowest range under an ascending
            # repartitionByRange
            base = time.time() - 3600
            names = sorted(f for f in os.listdir(out) if f.startswith("part-"))
            for i, f in enumerate(names):
                os.utime(os.path.join(out, f), (base + i * 60, base + i * 60))
    return (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(out)
    )


def _has_join_or_window(df: DataFrame) -> bool:
    """Whether ``df``'s optimized plan holds a join or a window: the
    deltas that are costly to compute twice (a micro-batch against
    static history), unlike an aggregate over the micro-batch alone."""
    todo = [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() in ("Join", "Window"):
            return True
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return False


class _ParquetFoldState:
    """Executor/disk-resident state store for the foreachBatch folds.
    The running state is a PARQUET SNAPSHOT, one versioned directory
    per applied batch id, committed by Spark's own ``_SUCCESS`` marker,
    so per-batch merges are distributed DataFrame work end-to-end and
    NO per-entity row ever transits the driver (the spy test in
    tests/test_ml_streaming.py asserts exactly that). This is the
    plain-parquet form of the Delta/state-table pattern; the folds are
    keyed merges, for which snapshot-out = groupBy(prev ∪ delta) is
    the exact algebra.

    Exactly-once under foreachBatch's at-least-once retries: the last
    applied batch id IS the latest committed snapshot version, so
    (a) a replay of an applied batch sees ``last_batch() >= batch_id``
    and no-ops, (b) a crash mid-write leaves a version directory
    without ``_SUCCESS`` that ``last_batch()`` ignores — the same-id
    retry redoes the work against the previous committed snapshot —
    and (c) guard and state survive QUERY restarts within one driver
    process always, and a full driver restart only when constructed
    with a stable ``path`` (the default tempdir is per-construction).
    Superseded snapshots are pruned after each commit, so disk holds
    ≤ 2 versions (current + the uncommitted scratch of a writing
    batch).

    100 TB shape: state is |entities| rows in parquet. Keyed folds go
    through :meth:`apply_delta`, which hash-buckets the snapshot on the
    fold key so a micro-batch reads and rewrites ONLY the buckets its
    keys land in — O(|delta| + touched-buckets) per batch, not
    O(|state|): an ``Observation`` names the touched buckets without
    writing a file, and the merge of their previous state with the
    delta is the batch's one parquet write. The whole-snapshot
    :meth:`write` remains for folds whose merge is NOT per-key (the
    incremental-CC fold: component merging is a global closure over
    prev ∪ delta, so no key bucketing can confine it). Both layouts
    remember the schema this instance last committed and read state
    back with it, so once a store has folded a batch no read of its
    state runs a footer-inference job. A fresh instance on a stable
    ``path`` infers the previous run's schema from the files, so a
    renamed column fails the merge's ``unionByName`` instead of being
    read back as nulls.

    Folds that also EMIT rows per batch (the hits of the duplicate-
    charge and impossible-velocity screens) commit them through the
    per-batch output log (:meth:`log` / :meth:`read_log`): one
    ``v{batch_id}`` directory per batch, committed by ``_SUCCESS``.
    The log is committed BEFORE the batch's state fold, so a replay
    after a crash between the two skips the committed output and
    re-applies only the state buckets the per-bucket guard left open
    — no double emission, no stale read.

    With the default ``path=None`` the state lives in a fresh
    ``ifds_fold_state_{prefix}_*`` tempdir and the log in
    ``ifds_{prefix}_hits_*``, both removed at interpreter exit, so
    drained-and-abandoned invocations don't leak one dir each. A
    stable ``path`` holds the state and, under ``hits/``, the log. The
    layout is plain parquet + _SUCCESS markers, so a cluster
    deployment points ``path`` at shared storage."""

    #: buckets for apply_delta's keyed layout. Sized by DELTA LOCALITY,
    #: not raw key count (measured, SCALING.md): more buckets pay off
    #: only when a micro-batch's key footprint is a small fraction of
    #: state (narrow live feeds over a large entity universe) — a
    #: drain-everything batch touches every bucket per batch, making
    #: extra buckets pure snapshot-commit overhead (8→64 was 2.6×
    #: SLOWER at sf3). Keep small for availableNow drains; raise only
    #: when touched-buckets ≪ n_buckets holds in production.
    DEFAULT_BUCKETS = 8

    def __init__(
        self,
        spark: SparkSession,
        prefix: str,
        path: str | None = None,
        n_buckets: int = DEFAULT_BUCKETS,
    ):
        self._spark = spark
        self._prefix = prefix
        self.n_buckets = n_buckets
        self._schema = None  # the state schema, once this instance commits
        if path is not None:
            os.makedirs(path, exist_ok=True)
            self.dir = path
            self._log_dir = os.path.join(path, "hits")
        else:
            self.dir = self._tempdir(f"ifds_fold_state_{prefix}_")
            self._log_dir = None

    @staticmethod
    def _tempdir(prefix: str) -> str:
        import atexit
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix=prefix)
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        return d

    @staticmethod
    def _versions(d: str) -> list[int]:
        if not os.path.isdir(d):
            return []
        return sorted(
            int(name[1:])
            for name in os.listdir(d)
            if name.startswith("v")
            and os.path.exists(os.path.join(d, name, "_SUCCESS"))
        )

    def _committed(self) -> list[int]:
        return self._versions(self.dir)

    def _bucket_dir(self, k: int) -> str:
        return os.path.join(self.dir, f"b{k}")

    def _bucket_last(self, k: int) -> int:
        vs = self._versions(self._bucket_dir(k))
        return vs[-1] if vs else -1

    def last_batch(self) -> int:
        """Highest applied batch id across both layouts. For bucketed
        folds this is a PROGRESS indicator, not a replay guard — a
        crash mid-commit leaves buckets at mixed versions, which is
        exactly why :meth:`apply_delta` guards PER BUCKET."""
        whole = self._committed()
        per_bucket = [self._bucket_last(k) for k in range(self.n_buckets)]
        return max([whole[-1] if whole else -1, *per_bucket])

    def _read(self, *paths: str) -> DataFrame:
        """Committed state dirs as one frame. Once this instance has
        committed a batch it knows the state schema, and passing it
        skips the footer-inference job a bare parquet read launches."""
        reader = self._spark.read
        if self._schema is not None:
            reader = reader.schema(self._schema)
        return reader.parquet(*paths)

    def read(self) -> DataFrame | None:
        """Latest committed state, or None before the first commit —
        the whole snapshot for write()-mode folds, the union of every
        bucket's latest committed version for apply_delta()-mode."""
        whole = self._committed()
        if whole:
            return self._read(os.path.join(self.dir, f"v{whole[-1]}"))
        paths = [
            os.path.join(self._bucket_dir(k), f"v{self._bucket_last(k)}")
            for k in range(self.n_buckets)
            if self._bucket_last(k) >= 0
        ]
        if not paths:
            return None
        return self._read(*paths)

    def write(self, df: DataFrame, batch_id: int) -> None:
        """Commit ``df`` as the post-``batch_id`` WHOLE snapshot, then
        prune superseded versions (best-effort; stale dirs are
        harmless). O(|state|) per batch — only for folds whose merge
        is not keyed (incremental CC); keyed folds use
        :meth:`apply_delta`."""
        import shutil

        df.write.mode("overwrite").parquet(
            os.path.join(self.dir, f"v{batch_id}")
        )
        self._schema = df.schema
        for v in self._committed():
            if v < batch_id:
                shutil.rmtree(
                    os.path.join(self.dir, f"v{v}"), ignore_errors=True
                )

    def _touched_buckets(self, delta: DataFrame, kb) -> list[int]:
        """Sorted bucket ids ``delta``'s keys hash to, learned from an
        ``Observation`` on a files-free ``noop`` write: at most
        ``n_buckets`` ints reach the driver, never a delta row.

        Null fold keys are safe by construction: xxhash64 skips null
        inputs and returns its seed (42), so ``kb`` is never null and
        a null-keyed row lands in a real bucket (pinned by the null-key
        fold test in tests/test_ml_streaming.py). ``collect_set`` would
        silently drop a null id, so nulls are counted beside it and any
        future violation of that invariant raises here."""
        from pyspark.sql import Observation

        obs = Observation()
        delta.select(kb.alias("_kb")).observe(
            obs,
            F.sort_array(F.collect_set("_kb")).alias("buckets"),
            F.count_if(F.col("_kb").isNull()).alias("nulls"),
        ).write.format("noop").mode("overwrite").save()
        buckets, nulls = obs.get["buckets"], obs.get["nulls"]
        if nulls:
            raise ValueError(
                f"_ParquetFoldState.apply_delta: {nulls} null bucket id(s) "
                f"beside {buckets} — the _kb expression must never be null"
            )
        return buckets

    @staticmethod
    def _check_merge_schema(delta: DataFrame, key_cols, aggs) -> None:
        """Raise unless the keyed merge yields ``delta``'s column names
        and types, in order: state written by one batch is read back by
        the next with ``delta.schema``. Analysis only, no job."""
        if not aggs:
            return  # distinct() keeps the schema
        from itertools import zip_longest

        def cols(df):
            return [(f.name, f.dataType.simpleString()) for f in df.schema]

        want, got = cols(delta), cols(delta.groupBy(*key_cols).agg(*aggs))
        for g, w in zip_longest(got, want):
            if g != w:
                raise ValueError(
                    f"_ParquetFoldState.apply_delta: the merge gives column "
                    f"{g} where the delta has {w} — the aggs must keep the "
                    f"delta's column names and types"
                )

    def apply_delta(
        self, delta: DataFrame, batch_id: int, key_cols, aggs
    ) -> None:
        """Fold one batch's ``delta`` into the bucketed state. The merge
        is ``prev.unionByName(delta).groupBy(*key_cols).agg(*aggs)``, or
        the key-set union ``prev.unionByName(delta).distinct()`` when
        ``aggs`` is empty (then ``delta`` carries only the key columns);
        a bucket without previous state takes the delta as is. It runs
        over ONLY the buckets the delta's keys hash to — per-batch cost
        O(|delta| + touched-buckets), never O(|state|). Group keys never
        span buckets, so the bucket-restricted merge ≡ the global merge
        restricted to those buckets. The merge must keep the delta's
        column names and types (checked before any job; ValueError).

        Mechanics: an ``Observation`` on a ``noop`` write names the
        touched buckets ``_kb = pmod(xxhash64(keys), n_buckets)`` (no
        files, no collect — the fold spy test stays strict); previous
        state is read from exactly the touched buckets' latest
        committed dirs (with the schema this instance last committed,
        see :meth:`_read`); the merge is written ONCE partitioned by
        ``_kb``, and each bucket's part is moved to ``b{k}/v{batch_id}``
        with its own _SUCCESS marker. The delta thus feeds two jobs: one
        that joins or windows is cached for them (and released after,
        unless the caller cached it), any other is computed twice, which
        measured cheaper than caching it. Exactly-once under
        foreachBatch's at-least-once retries is PER BUCKET: a replayed
        batch skips buckets already committed at ≥ batch_id and redoes
        only the ones a crash left behind, against their previous
        committed versions."""
        self._check_merge_schema(delta, key_cols, aggs)
        cached = not delta.is_cached and _has_join_or_window(delta)
        if cached:
            delta = delta.persist()
        try:
            self._merge_touched(delta, batch_id, key_cols, aggs)
        finally:
            if cached:
                delta.unpersist()

    def _merge_touched(self, delta: DataFrame, batch_id: int, key_cols, aggs) -> None:
        """:meth:`apply_delta` after its schema check: observe, merge,
        write once, publish per bucket."""
        import shutil

        kb = F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(self.n_buckets)).cast(
            "int"
        )
        todo = [
            k
            for k in self._touched_buckets(delta, kb)
            if self._bucket_last(k) < batch_id
        ]
        if not todo:
            return
        merged = delta.where(kb.isin(todo))
        prev_paths = [
            os.path.join(self._bucket_dir(k), f"v{self._bucket_last(k)}")
            for k in todo
            if self._bucket_last(k) >= 0
        ]
        if prev_paths:
            both = self._read(*prev_paths).unionByName(merged)
            merged = both.groupBy(*key_cols).agg(*aggs) if aggs else both.distinct()
        out = os.path.join(self.dir, f"_merge_v{batch_id}")
        merged.withColumn("_kb", kb).write.mode("overwrite").partitionBy("_kb").parquet(out)
        self._schema = delta.schema
        for k in todo:
            part = os.path.join(out, f"_kb={k}")
            if not os.path.isdir(part):
                # a keyed merge of a non-empty bucket delta can't
                # produce zero rows; should it ever, leaving the
                # old version is the additive-identity behavior
                continue
            dest = os.path.join(self._bucket_dir(k), f"v{batch_id}")
            os.makedirs(self._bucket_dir(k), exist_ok=True)
            # crash window: a crash BETWEEN the move and the
            # _SUCCESS touch leaves an uncommitted dest;
            # _bucket_last ignores it (no marker) so the retry
            # re-merges — but a bare move would then nest the fresh
            # files INSIDE the stale dir as a spurious '_kb='
            # subdir. Replace, never nest.
            shutil.rmtree(dest, ignore_errors=True)
            shutil.move(part, dest)
            open(os.path.join(dest, "_SUCCESS"), "w").close()
            for v in self._versions(self._bucket_dir(k)):
                if v < batch_id:
                    shutil.rmtree(
                        os.path.join(self._bucket_dir(k), f"v{v}"),
                        ignore_errors=True,
                    )
        shutil.rmtree(out, ignore_errors=True)

    def read_or_empty(self, schema: str) -> DataFrame:
        """Latest committed snapshot, or an empty frame with the fold's
        state schema — for drains where no batch carried state-changing
        rows (e.g. a conversion-free attribution stream)."""
        df = self.read()
        return df if df is not None else self._spark.createDataFrame([], schema)

    def _log_path(self) -> str:
        if self._log_dir is None:
            self._log_dir = self._tempdir(f"ifds_{self._prefix}_hits_")
        return self._log_dir

    def log(self, batch_id: int, rows) -> None:
        """Commit ``rows()`` as batch ``batch_id``'s output unless that
        version is already committed (a replay then builds nothing).
        ``overwrite`` replaces an uncommitted leftover of a crashed
        attempt rather than nesting inside it."""
        path = os.path.join(self._log_path(), f"v{batch_id}")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            rows().write.mode("overwrite").parquet(path)

    def read_log(self, schema: str) -> DataFrame:
        """Union of every committed batch output read with ``schema`` (the
        schema the caller logs; no inference job), or an empty frame of
        ``schema`` when none is committed; uncommitted versions are
        ignored."""
        d = self._log_path()
        paths = [os.path.join(d, f"v{v}") for v in self._versions(d)]
        if not paths:
            return self._spark.createDataFrame([], schema)
        return self._spark.read.schema(schema).parquet(*paths)


def _fold_drain(
    stream: DataFrame, prefix: str, keys, aggs, delta, schema: str
) -> DataFrame:
    """Drain ``stream`` through one keyed fold: each micro-batch's
    ``delta(batch_df)`` merges into a fresh ``_ParquetFoldState`` via
    ``apply_delta(…, keys, aggs)``. Returns the drained state, or an
    empty frame of ``schema`` when no batch committed any."""
    state = _ParquetFoldState(stream.sparkSession, prefix)
    _drain(stream, fold=lambda b, i: state.apply_delta(delta(b), i, keys, aggs))
    return state.read_or_empty(schema)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming source over the events parquet, with ``ts`` normalized
    to session-timezone TIMESTAMP by the batch reader's rules (see
    :func:`_table_stream`)."""
    return _table_stream(spark, sf_dir, "events")


def stream_events_hourly(
    spark: SparkSession, sf_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """Tumbling 1-hour windowed count/sum over the event stream,
    executed with an availableNow trigger into a memory sink; returns
    the finished result (batch-equivalent by construction).

    Complete output mode so every window is emitted at termination —
    with append mode, windows younger than the watermark at end-of-
    input would be withheld. NOTE: in complete mode the watermark does
    NOT evict state (Spark keeps every window to re-emit the full
    result); that is safe here because availableNow drains a finite
    input and the query terminates. A LIVE continuous deployment must
    switch to update/append mode, where the watermark genuinely bounds
    the windowed state.
    """
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("sum_value_dec"),
        )
    )
    return _drain(agg, "events_hourly", "complete").select(
        F.col("w.start").alias("hour_ts"),
        "event_type",
        "n",
        ((F.col("sum_value_dec") * 100).cast("long").cast("double") / 100.0).alias(
            "sum_value"
        ),
    )


def stream_score_claims(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    schema,
    cfg: RuleConfig = RuleConfig(),
) -> None:
    """CSV-drop-folder scoring: each micro-batch runs the full batch
    rule engine via foreachBatch (plan reuse — no separate streaming
    implementation of the rules) and appends parquet output."""
    stream = (
        spark.readStream.schema(schema)
        .option("header", True)
        .option("dateFormat", "yyyy-MM-dd")
        .csv(input_dir)
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        scored = score_claims(batch_df, cfg)
        scored.write.mode("append").parquet(output_dir)

    _drain(stream, fold=handle)


def stream_user_stats_stateful(
    spark: SparkSession, sf_dir: str, n_files: int = 8
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    cumulative per-user event stats carried in GroupState across
    micro-batches (one file per trigger → n_files genuine batches).

    Each batch emits the UPDATED running totals for the users it
    touched; the final answer is, per user, the row with the highest
    cumulative count — so the memory-sink union of all emissions reduces
    to exactly the batch groupBy, which the DuckDB oracle checks. Sums
    accumulate in integer cents (exact, order-independent); the count is
    the arrival-order-free invariant.

    At cluster scale this is the template for any custom sessionless
    accumulator (per-key rate counters, running feature stats): state is
    partitioned by key across executors, each micro-batch shuffles only
    that batch's rows.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    stream = _split_stream(spark, sf_dir, "events", n_files)

    out_type = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
            T.StructField("max_value", T.DoubleType()),
        ]
    )
    state_type = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("sum_cents", T.LongType()),
            T.StructField("max_value", T.DoubleType()),
        ]
    )

    def update(key, pdf_iter, state: GroupState):
        n, cents, mx = state.get if state.exists else (0, 0, float("-inf"))
        for pdf in pdf_iter:
            n += len(pdf)
            cents += int(round(pdf["value"].mul(100).round().sum())) if len(pdf) else 0
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, cents, mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [cents / 100.0],
                "max_value": [mx],
            }
        )

    emitted = stream.groupBy("user_id").applyInPandasWithState(
        update, out_type, state_type, "update", GroupStateTimeout.NoTimeout
    )
    all_rows = _drain(emitted, "user_stats", "update")
    # keep, per user, the emission with the highest cumulative count —
    # that is the final state (counts are strictly monotone per batch)
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        all_rows.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("user_id", "n_events", "sum_value", "max_value")
    )


def stream_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: dropDuplicates over an unbounded stream
    keeps a state row per distinct key and append-emits first
    occurrences — the streaming form of SELECT DISTINCT (state bounded
    by key cardinality; add a watermark for time-bounded dedup)."""
    events = read_events_stream(spark, sf_dir)
    distinct = events.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return _drain(distinct, "distinct")


def stream_sessionize(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes"
) -> DataFrame:
    """Native session-window sessionization on the stream (state merges
    windows within `gap`); append mode emits sessions the watermark has
    closed. Over a finite file stream the final watermark stops at
    max(event_time) minus the delay, so sessions still open at
    end-of-input are withheld — callers compare against the batch
    gaps-and-islands variant as a superset (pytest pins the property).
    """
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", gap).alias("sw"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return _drain(agg, "session").select(
        "user_id",
        F.col("sw.start").alias("session_start"),
        "n_events",
    )


def stream_split_transactions(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 4,
    threshold_cents: int = 200_000_00,
    window_days: int = 30,
    min_parts: int = 3,
) -> DataFrame:
    """The split-transaction screen as a LIVE ledger stream: per
    arriving order, the entity's trailing-``window_days`` count and
    exact cents sum of SUB-threshold amounts, flagging splits that
    jointly clear the threshold — the streaming twin of
    ``split_transactions_orders`` (operators/fraud_stats.py::
    split_transactions), sharing its batch oracle bit-for-bit over a
    drained date-ordered availableNow stream.

    One ``applyInPandasWithState`` pass per entity: state is the
    window's sub-threshold (day, cents) deque plus a running total —
    O(1) amortized per order (popleft eviction), never a window
    recompute; same-day ties are processed as one group so the batch
    RANGE frame's symmetric-peer semantics reproduce exactly (the
    velocity-fold discipline). State is bounded by the entity's
    sub-threshold orders per ``window_days`` — O(1) for any real
    ledger."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    stream = _split_stream(
        spark, sf_dir, "orders", n_files, by="o_orderdate", ordered=True
    ).select(
        "o_orderkey",
        "o_custkey",
        F.unix_date(F.col("o_orderdate").cast("date")).alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    out_type = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("day", T.LongType()),
            T.StructField("cents", T.LongType()),
            T.StructField("n_parts_window", T.LongType()),
            T.StructField("cents_window", T.LongType()),
            T.StructField("split_flag", T.BooleanType()),
        ]
    )
    state_type = T.StructType(
        [
            T.StructField("days", T.ArrayType(T.LongType())),
            T.StructField("cents", T.ArrayType(T.LongType())),
        ]
    )

    def update(key_, pdf_iter, state: GroupState):
        from collections import deque

        if state.exists:
            d0, c0 = state.get
            days, cts = deque(d0), deque(c0)
        else:
            days, cts = deque(), deque()
        total = sum(cts)
        ent = int(key_[0])
        out = {k: [] for k in ("oid", "d", "c", "n", "s", "f")}
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["day", "o_orderkey"]
            )
            oids = pdf["o_orderkey"].tolist()
            dss = pdf["day"].tolist()
            cns = pdf["cents"].tolist()
            i = 0
            while i < len(oids):
                j = i
                while j < len(oids) and dss[j] == dss[i]:
                    j += 1
                d = int(dss[i])
                lo = d - (window_days - 1)
                while days and days[0] < lo:
                    days.popleft()
                    total -= cts.popleft()
                tie = [
                    int(c)
                    for c in cns[i:j]
                    if 0 < int(c) < threshold_cents
                ]
                tie_n, tie_c = len(tie), sum(tie)
                n_w = len(days) + tie_n
                c_w = total + tie_c
                for t in range(i, j):
                    c = int(cns[t])
                    sub = 0 < c < threshold_cents
                    out["oid"].append(int(oids[t]))
                    out["d"].append(d)
                    out["c"].append(c)
                    out["n"].append(n_w)
                    out["s"].append(c_w)
                    out["f"].append(
                        sub and n_w >= min_parts and c_w >= threshold_cents
                    )
                days.extend([d] * tie_n)
                cts.extend(tie)
                total += tie_c
                i = j
        state.update((list(days), list(cts)))
        yield pd.DataFrame(
            {
                "o_orderkey": out["oid"],
                "o_custkey": [ent] * len(out["oid"]),
                "day": out["d"],
                "cents": out["c"],
                "n_parts_window": out["n"],
                "cents_window": out["s"],
                "split_flag": out["f"],
            }
        )

    emitted = stream.groupBy("o_custkey").applyInPandasWithState(
        update, out_type, state_type, "update", GroupStateTimeout.NoTimeout
    )
    return _drain(emitted, "split_tx", "update")


def stream_rolling_anomaly(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> DataFrame:
    """Streaming rolling-threshold anomaly scorer: per-user Welford-free
    running moments (count, Σcents, Σcents² as exact Python ints) in
    GroupState; each event is flagged against mean+2σ of the user's
    PRIOR events, then folded into the state.

    This is the streamable redesign of the reference's batch-relative
    threshold (M6): instead of 'this batch's mean+2σ' (incoherent on an
    unbounded stream), each event is judged against everything seen
    before it. Within a batch rows are processed in (ts, event_id)
    order; with time-ordered ingestion (files arriving in order) the
    result is identical to the batch window query
    rolling_anomaly_events, which is exactly what the shared oracle
    checks. Exact integer state ⇒ no float drift across batches.
    """
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    stream = _split_stream(spark, sf_dir, "events", n_files, by="ts", ordered=True)

    out_type = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("n_prior", T.LongType()),
            T.StructField("is_anomaly", T.BooleanType()),
        ]
    )
    state_type = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s1", T.LongType()),
            T.StructField("s2_hi", T.LongType()),  # Σcents² split to dodge
            T.StructField("s2_lo", T.LongType()),  # int64 overflow
        ]
    )
    _SPLIT = 1 << 62

    def update(key_, pdf_iter, state: GroupState):
        if state.exists:
            n, s1, s2_hi, s2_lo = state.get
            s2 = s2_hi * _SPLIT + s2_lo
        else:
            n, s1, s2 = 0, 0, 0
        ids, priors, flags = [], [], []
        # concat the whole iterator before ONE sort — >10k rows per key
        # per batch arrive as multiple arbitrary-order pandas chunks
        # (arrow.maxRecordsPerBatch), and per-chunk sorting would break
        # the walk across chunk boundaries
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "event_id"]
            )
            for eid, val in zip(pdf["event_id"], pdf["value"]):
                if n == 0:
                    flag = False
                else:
                    mean = float(s1) / n / 100.0
                    var = max(float(s2) / n / 10000.0 - mean * mean, 0.0)
                    flag = val > mean + 2 * math.sqrt(var)
                ids.append(int(eid))
                priors.append(n)
                flags.append(bool(flag))
                cents = int(round(val * 100))
                n += 1
                s1 += cents
                s2 += cents * cents
        state.update((n, s1, s2 // _SPLIT, s2 % _SPLIT))
        yield pd.DataFrame(
            {"event_id": ids, "n_prior": priors, "is_anomaly": flags}
        )

    emitted = stream.groupBy("user_id").applyInPandasWithState(
        update, out_type, state_type, "update", GroupStateTimeout.NoTimeout
    )
    return _drain(emitted, "rolling_anomaly", "update")


def stream_velocity_flags(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 4,
    window_seconds: int = 3600,
    count_threshold: int = 3,
    cents_threshold: int = 200_00,
) -> DataFrame:
    """STREAMING trailing-window velocity screen:
    the live-deployment form of fraud_stats.py::velocity_flags — the
    screen the reference's scoring loop would run as a real feed. Per
    user, ``applyInPandasWithState`` keeps exactly the trailing-hour
    slice of (epoch_second, cents) pairs as state (arrays, evicted as
    the clock advances — state is O(events-per-entity-per-hour), never
    history); each event emits its entity's trailing count / cents sum
    and the two flags, exactly once.

    Batch-twin discipline (shares velocity_flags_events' DuckDB
    oracle): the batch RANGE frame makes same-second events symmetric
    peers, so rows are processed per TIE-SECOND group — every member
    of a second emits the same trailing aggregates, including its
    peers, regardless of arrival order within the group. The ordered
    file source guarantees a tie second never splits across
    micro-batches (ties share a repartitionByRange partition), so each
    event's window is complete when it is processed and nothing is
    ever re-emitted — drained with availableNow, the output IS the
    batch query, row for row. Cents are exact integers end-to-end
    (state and sums), so there is no cross-batch float drift; ``value``
    is assumed non-null (holds for the driver tables — a null would
    need SQL's null-skipping SUM over the frame, while count still
    counts the row).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    # epoch/cents become exact longs JVM-side (ts.cast(long) truncates
    # = floor for >=1970, the batch/oracle convention) so the Python
    # state fn never touches tz-aware timestamps or floats
    stream = _split_stream(
        spark, sf_dir, "events", n_files, by="ts", ordered=True
    ).select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("epoch_s"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )

    out_type = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("epoch_s", T.LongType()),
            T.StructField("n_trailing", T.LongType()),
            T.StructField("cents_trailing", T.LongType()),
            T.StructField("velocity_flag", T.BooleanType()),
            T.StructField("spend_flag", T.BooleanType()),
        ]
    )
    state_type = T.StructType(
        [
            T.StructField("epochs", T.ArrayType(T.LongType())),
            T.StructField("cents", T.ArrayType(T.LongType())),
        ]
    )

    def update(key_, pdf_iter, state: GroupState):
        from collections import deque

        if state.exists:
            ep0, ce0 = state.get
            epochs, cents = deque(ep0), deque(ce0)
        else:
            epochs, cents = deque(), deque()
        # running window total: O(state) ONCE per batch at restore,
        # then O(1) amortized per event (popleft on evict, add on
        # append), never O(window-state) per tie group
        total = sum(cents)
        uid = int(key_[0])
        out = {k: [] for k in ("eid", "s", "n", "c")}
        # concat before the one sort — a tie-second split across
        # arrow chunks would otherwise fracture its peer group
        # (see stream_dormancy_flags)
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["epoch_s", "event_id"]
            )
            i = 0
            eids = pdf["event_id"].tolist()
            secs = pdf["epoch_s"].tolist()
            cnts = pdf["cents"].tolist()
            while i < len(eids):
                j = i
                while j < len(eids) and secs[j] == secs[i]:
                    j += 1
                s = int(secs[i])
                # evict state strictly older than the frame start
                lo = s - window_seconds
                while epochs and epochs[0] < lo:
                    epochs.popleft()
                    total -= cents.popleft()
                tie_n = j - i
                tie_c = sum(int(c) for c in cnts[i:j])
                n_tr = len(epochs) + tie_n
                c_tr = total + tie_c
                for t in range(i, j):
                    out["eid"].append(int(eids[t]))
                    out["s"].append(s)
                    out["n"].append(n_tr)
                    out["c"].append(c_tr)
                epochs.extend([s] * tie_n)
                cents.extend(int(c) for c in cnts[i:j])
                total += tie_c
                i = j
        state.update((list(epochs), list(cents)))
        yield pd.DataFrame(
            {
                "event_id": out["eid"],
                "user_id": [uid] * len(out["eid"]),
                "epoch_s": out["s"],
                "n_trailing": out["n"],
                "cents_trailing": out["c"],
                "velocity_flag": [n >= count_threshold for n in out["n"]],
                "spend_flag": [c >= cents_threshold for c in out["c"]],
            }
        )

    emitted = stream.groupBy("user_id").applyInPandasWithState(
        update, out_type, state_type, "update", GroupStateTimeout.NoTimeout
    )
    return _drain(emitted, "velocity", "update")


# ---------------------------------------------------------------------------
# Non-file streaming sources (§2.9 source surface beyond the file source)
# ---------------------------------------------------------------------------


def read_rate_events(
    spark: SparkSession,
    rows_per_batch: int = 250,
    advance_ms: int = 60_000,
    users: int = 7,
    limit_rows: int | None = None,
) -> DataFrame:
    """Events-shaped stream from Spark's built-in ``rate-micro-batch``
    source — a genuine non-file source with DETERMINISTIC content:
    every batch carries exactly ``rows_per_batch`` rows, row values are
    the global row index, and the batch timestamp advances
    ``advance_ms`` per batch from epoch 0. The projection shapes it to
    (event_id, user_id, ts, value) so every downstream streaming job is
    source-agnostic (swap in the file reader unchanged).

    ``limit_rows`` bounds the *logical* input (event_id < limit) so a
    finite prefix of the unbounded source has a closed-form batch twin
    (:func:`rate_events_batch_twin`) — the oracle trick for testing an
    unbounded source exactly.
    """
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", advance_ms)
        .load()
    )
    ev = stream.select(
        F.col("value").alias("event_id"),
        (F.col("value") % users).cast("long").alias("user_id"),
        F.col("timestamp").alias("ts"),
        ((F.col("value") % 100).cast("double") / 10.0).alias("value"),
    )
    if limit_rows is not None:
        ev = ev.where(F.col("event_id") < limit_rows)
    return ev


def rate_events_batch_twin(
    spark: SparkSession,
    n_rows: int,
    rows_per_batch: int = 250,
    advance_ms: int = 60_000,
    users: int = 7,
) -> DataFrame:
    """The exact batch DataFrame a ``limit_rows=n_rows`` rate stream
    reduces to (same derivations over ``spark.range``) — the equality
    oracle for the non-file source path."""
    r = spark.range(n_rows)
    return r.select(
        F.col("id").alias("event_id"),
        (F.col("id") % users).cast("long").alias("user_id"),
        F.timestamp_millis(
            (F.col("id") / rows_per_batch).cast("long") * advance_ms
        ).alias("ts"),
        ((F.col("id") % 100).cast("double") / 10.0).alias("value"),
    )


def stream_rate_minutely(
    spark: SparkSession,
    n_rows: int = 1000,
    rows_per_batch: int = 250,
    advance_ms: int = 60_000,
    users: int = 7,
) -> DataFrame:
    """Per-user 1-minute windowed aggregation over the RATE source: the
    streaming plan is identical to the file-source jobs (watermark +
    window + agg) — only the reader differs, which is the point of the
    source abstraction. The query ingests exactly the deterministic
    finite prefix; rows past ``n_rows`` are filtered out upstream, so
    the complete-mode snapshot equals the batch twin's aggregation
    exactly (pinned by pytest). Sums accumulate in integer deci-units
    (exact, order-independent).

    Under an availableNow trigger the rate-micro-batch source serves
    one batch (``rows_per_batch`` rows) per run, so the prefix is
    ingested by ``ceil(n_rows / rows_per_batch)`` runs that resume from
    one checkpoint. Each run ends by itself on a batch boundary: no
    query is ever stopped mid-batch, and there is no wall-clock poll."""
    import math
    import shutil
    import tempfile

    ev = read_rate_events(spark, rows_per_batch, advance_ms, users, limit_rows=n_rows)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 10).cast("long")).alias("decivalue_sum"),
        )
    )
    name = f"rate_minutely_sink_{next(_sink_ids)}"
    checkpoint = tempfile.mkdtemp(prefix="ifds_rate_minutely_")
    try:
        for _ in range(math.ceil(n_rows / rows_per_batch)):
            (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
    finally:
        shutil.rmtree(checkpoint, ignore_errors=True)
    return spark.table(name).select(
        F.col("w.start").alias("minute_ts"), "user_id", "n", "decivalue_sum"
    )


def stream_stream_click_purchase(
    spark: SparkSession, sf_dir: str, within: str = "1 hour"
) -> DataFrame:
    """Stream-STREAM inner join (§2.9's hardest join surface): each
    click joined to the same user's purchases within ``within`` after
    it. Both sides carry watermarks and the join condition is
    time-bounded — exactly what Structured Streaming requires to bound
    join state (clicks older than the watermark minus the bound are
    evicted; an unbounded condition would grow state forever).

    Run with an availableNow trigger over the single-file source the
    whole input lands in one micro-batch, so the emitted set equals the
    batch join exactly (pinned by pytest + oracle). With multi-file
    out-of-order ingestion the watermark semantics would legitimately
    drop late matches — that's the streaming contract, not a bug."""
    ev = read_events_stream(spark, sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}")),
        "inner",
    ).select("click_id", "purchase_id")
    return _drain(joined, "ss_join")


def _sentinel_staged_dir(
    spark: SparkSession,
    df: DataFrame,
    sf_dir: str,
    side: str,
    sentinel_ts: list,
) -> str:
    """Materialize a (user_id, event_id, ts) frame as an ORDERED
    multi-file stream source: file 00 = all real rows, then one
    single-row sentinel file per ``sentinel_ts`` (user_id/event_id
    = −1). Lexicographic names + strictly increasing mtimes pin the
    FileStreamSource pickup order, so ``maxFilesPerTrigger=1`` yields
    one deterministic micro-batch per file. Keyed by the dataset
    content fingerprint (stale-regeneration-proof)."""
    import glob
    import hashlib
    import shutil
    import tempfile

    fp = _src_fingerprint(os.path.join(sf_dir, "events.parquet"))
    sig = hashlib.md5(
        f"{sf_dir}:{side}:{sentinel_ts}:{fp}:v1".encode()
    ).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"ifds_ssjoin_{side}_{sig}")
    if os.path.exists(os.path.join(out, "_READY")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

    def _write_one(frame: DataFrame, name: str, mtime: float) -> None:
        tmp = out + "__tmp"
        frame.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dest = os.path.join(out, name)
        shutil.copy(part, dest)
        shutil.rmtree(tmp)
        os.utime(dest, (mtime, mtime))

    base = 1_000_000_000.0  # fixed epoch so reruns are deterministic
    _write_one(df, "00.parquet", base)
    for i, ts in enumerate(sentinel_ts, 1):
        sent = spark.createDataFrame(
            [(-1, -1, ts)], "user_id long, event_id long, ts timestamp"
        )
        _write_one(sent, f"{i:02d}.parquet", base + 60 * i)
    with open(os.path.join(out, "_READY"), "w"):
        pass
    return out


def stream_stream_click_purchase_left_outer(
    spark: SparkSession,
    sf_dir: str,
    within: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "left_outer",
) -> DataFrame:
    """Stream-STREAM LEFT OUTER join with watermark null-emission — the
    one join flavor the inner variant above doesn't cover: every click
    joined to same-user purchases within ``within`` after it, and
    clicks with NO such purchase emitted with a NULL purchase_id once
    the watermark proves no match can still arrive. With
    ``how="full_outer"`` unmatched PURCHASES additionally emit with a
    NULL click_id on the same state-expiry mechanism (both sides are
    watermarked and time-bounded, so both sides' state is evictable —
    the Spark requirement for streaming full outer); see
    ``stream_stream_click_purchase_full_outer``.

    Structured Streaming emits an outer join's null rows only when a
    LATER micro-batch's watermark expires the row's state — measured
    here on a single-batch availableNow drain: unmatched rows are
    silently withheld (the watermark advances at end-of-batch N but the
    eviction scan runs in batch N+1, which never comes). The job
    therefore stages each side as an ordered 3-file source
    (``maxFilesPerTrigger=1``): batch 1 = all real rows (every match
    happens here), batches 2-3 = single far-future sentinel rows on
    BOTH sides — both, because the global watermark is the MIN across
    watermarked inputs, so one stuck side pins it. Batch 2's sentinels
    advance the watermark past every real click's expiry; batch 3's
    eviction scan then flushes every real unmatched click. Sentinels
    (negative ids) are filtered from the result; the sentinel rows'
    own state dies with the drained query. The drained result is
    therefore EXACTLY the batch left interval join, which the DuckDB
    oracle attests — matched rows once per match, unmatched rows once
    with NULL.

    At cluster scale this is the standard pattern: a live deployment's
    watermark advances from ordinary data flow and emits outer rows
    continuously with bounded state (clicks older than
    watermark − ``within`` are evicted); the sentinel staging is only
    how a FINITE drain reproduces that steady-state semantics."""
    from ..sources.readers import read_table

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    bounds = ev.agg(F.max("ts").alias("mx")).collect()[0]
    import datetime

    mx = bounds["mx"]
    # sentinel 1 must clear every real click's expiry:
    # wm_after_b2 = S1 − watermark > max_ts + within  (margins below)
    s1 = mx + datetime.timedelta(hours=4)
    s2 = mx + datetime.timedelta(hours=8)
    clicks_dir = _sentinel_staged_dir(
        spark,
        ev.where(F.col("event_type") == "click").select(
            "user_id", "event_id", "ts"
        ),
        sf_dir,
        "clicks",
        [s1, s2],
    )
    purch_dir = _sentinel_staged_dir(
        spark,
        ev.where(F.col("event_type") == "purchase").select(
            "user_id", "event_id", "ts"
        ),
        sf_dir,
        "purchases",
        [s1, s2],
    )
    schema = "user_id long, event_id long, ts timestamp"
    clicks = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(clicks_dir)
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(purch_dir)
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}")),
        how,
    ).select("click_id", "purchase_id")
    # drop sentinel artifacts on EITHER side, null-safely: real outer
    # rows carry NULL on exactly one side; sentinels carry negative ids
    # (incl. sentinel-sentinel self-matches, whose timestamps coincide)
    return _drain(joined, "ss_louter").where(
        (F.col("click_id").isNull() | (F.col("click_id") >= 0))
        & (F.col("purchase_id").isNull() | (F.col("purchase_id") >= 0))
    )


def stream_stream_click_purchase_full_outer(
    spark: SparkSession,
    sf_dir: str,
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-STREAM FULL OUTER join — completes the three stream-
    stream flavors (inner / left outer / full outer): matched pairs
    once per match, unmatched clicks as (click_id, NULL), unmatched
    purchases as (NULL, purchase_id), each emitted when watermark
    expiry proves no counterpart can still arrive. Identical sentinel-
    drain mechanics to the left-outer job (the eviction scan now
    flushes BOTH sides' expired state); the drained result equals the
    batch FULL interval join, which the oracle attests."""
    return stream_stream_click_purchase_left_outer(
        spark, sf_dir, within=within, watermark=watermark, how="full_outer"
    )


def stream_static_enrich_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join (§2.9): every event in the stream
    joined against the static customer dimension. Stateless — no
    watermark, no join state: each micro-batch joins independently, and
    Catalyst broadcasts the dimension exactly as it would in batch, so
    a 100 TB/day stream enriches against a dimension table without a
    single shuffle of the stream side. Left join keeps events whose
    user has no customer row. Over availableNow single-batch input the
    emitted set IS the batch join, which the shared oracle checks."""
    from ..sources.readers import read_table

    ev = read_events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type"
    )
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        "c_name",
        "c_mktsegment",
    )
    joined = ev.join(F.broadcast(cust), "user_id", "left")
    return _drain(joined, "static_enrich").select(
        "event_id", "user_id", "event_type", "c_name", "c_mktsegment"
    )


def stream_topk_trending(
    spark: SparkSession, sf_dir: str, k: int = 3, watermark: str = "1 hour"
) -> DataFrame:
    """Windowed heavy hitters ("trending"): the top-k event types per
    tumbling hour, computed as an incremental streaming aggregation.

    The STREAM maintains only the windowed counts. Output mode is
    ``complete``, where the watermark does NOT evict state — safe here
    only because availableNow drains a finite input and terminates; a
    live continuous deployment must run this in update mode (emit
    changed windows per trigger, watermark evicts closed windows) and
    rank over the compacted sink instead. The top-k rank is applied to
    the finished sink table
    batch-side — ranking inside the stream would force the whole
    ranking to re-run per micro-batch for no semantic gain. Equals the
    batch date_trunc + row_number plan exactly, which the oracle
    attests. Ties broken by event_type so the result is deterministic
    on any engine."""
    from pyspark.sql import Window as W

    events = read_events_stream(spark, sf_dir)
    counts = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    sink = _drain(counts, "topk_trending", "complete")
    rank_w = W.partitionBy("hour_ts").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        sink.select(F.col("w.start").alias("hour_ts"), "event_type", "n_events")
        .withColumn("rnk", F.row_number().over(rank_w).cast("long"))
        .where(F.col("rnk") <= k)
    )


def stream_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous PII scrubbing over a documents file stream: the
    batch injection+scan+redaction projection (plans/data_ops.py::
    pii_scan_frame) run incrementally — a STATELESS per-batch map, so
    append mode needs no watermark and holds no state; new corpus
    shards are scrubbed as they land, which is how a continuous-ingest
    pipeline runs the scrub in production. Over static input with an
    availableNow trigger the result must equal the batch answer
    exactly, so the query shares the batch oracle byte-for-byte."""
    from ..plans.data_ops import pii_scan_frame

    stream = _table_stream(spark, sf_dir, "documents")
    return _drain(pii_scan_frame(stream), "pii_redact")


def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup against a FROZEN snapshot: each arriving
    document shard stream-static joins the snapshot's broadcast digest
    index (operators/dedup.py::snapshot_digest_index) and is flagged
    ``in_snapshot`` — the streaming twin of the batch
    ``incremental_dedup_documents`` classifier, restricted to its
    stateless part (the intra-shard dup_delta pick needs a global
    window, which the batch op owns; the snapshot membership test is
    what a landing-zone scrubber runs per micro-batch).

    Stateless append-mode map + broadcast join: no watermark, no state
    store — arbitrarily long uptime with zero state growth. Over static
    input with an availableNow trigger the result equals the batch
    derivation exactly, so the query carries a full value oracle."""
    from pyspark.sql import functions as F

    from ..operators.dedup import snapshot_digest_index
    from ..sources.readers import read_table

    d = read_table(spark, sf_dir, "documents")
    idx = snapshot_digest_index(d.where(F.col("doc_id") % 10 != 3))

    stream = _table_stream(spark, sf_dir, "documents")
    delta = stream.where(F.col("doc_id") % 10 == 3).select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")).alias(
            "content_md5"
        ),
    )
    out = delta.join(
        F.broadcast(idx.withColumn("_hit", F.lit(True))), "content_md5", "left"
    ).select(
        "doc_id", "content_md5", F.coalesce(F.col("_hit"), F.lit(False)).alias("in_snapshot")
    )
    return _drain(out, "incr_dedup")


def _make_incremental_agg_fold(spark: SparkSession, state: _ParquetFoldState):
    """The foreachBatch fold for ``stream_incremental_agg``, factored
    out so the crash-replay contract is directly testable.

    foreachBatch is AT-LEAST-ONCE on failure: a crashed batch is
    re-invoked with the SAME batch_id. Additive state folding becomes
    exactly-once the standard way — here the last applied id IS the
    latest committed snapshot version in the ``_ParquetFoldState``
    store, so replays skip and crashed writes retry without any
    driver-held guard (tests/test_ml_streaming.py pins both). State
    residence contract: the |keys|-row running aggregate lives as a
    parquet snapshot merged by a distributed groupBy — the driver
    never collects a state row."""
    from ..operators.incremental_agg import agg_state, merge_aggs

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = agg_state(batch_df, ["event_type"], "value")
        # the per-bucket _SUCCESS commit IS the replay guard — a
        # same-id re-invocation skips committed buckets and retries
        # only what a crash left behind
        state.apply_delta(delta, batch_id, ["event_type"], merge_aggs())

    return fold


def stream_incremental_agg(spark: SparkSession, sf_dir: str, n_files: int = 8) -> DataFrame:
    """Streaming materialized-view maintenance: per-(event_type) value
    aggregates folded incrementally, one micro-batch at a time, through
    the mergeable partial-aggregate algebra (operators/
    incremental_agg.py) inside ``foreachBatch`` — the production shape
    for a continuously-maintained dashboard aggregate: each batch
    contributes its own tiny state, merged into the running state;
    history is never re-scanned. The fold is exactly-once under
    foreachBatch's at-least-once retry contract via the last-applied
    batch_id guard (``_make_incremental_agg_fold``).

    State residence: the |keys|-row running
    aggregate lives as a committed parquet snapshot
    (``_ParquetFoldState``), merged per batch by a distributed
    groupBy — no driver collect of state, and both the state and the
    exactly-once replay guard survive a driver restart. Over a drained
    availableNow stream the final state must equal the full-table
    aggregation EXACTLY (the algebra's merge property, which the
    integer-cent sums make bit-true) — the oracle attests that."""
    from ..operators.incremental_agg import finalize

    stream = _split_stream(spark, sf_dir, "events", n_files)
    state = _ParquetFoldState(spark, "mv")
    _drain(stream, fold=_make_incremental_agg_fold(spark, state))
    final = state.read_or_empty(
        "event_type string, n_rows long, sum_cents long, "
        "min_value double, max_value double"
    )
    return finalize(final).orderBy("event_type")


def _make_attribution_fold(
    spark: SparkSession, state: _ParquetFoldState, touches: DataFrame
):
    """The foreachBatch fold for ``stream_attribution``, factored out
    so the crash-replay contract is directly testable: a same-batch_id
    re-invocation (foreachBatch's at-least-once failure mode) must be
    a no-op on the additive credit state. State residence: the
    |touch types|-row credit state is a committed parquet snapshot
    (``_ParquetFoldState``) merged by a distributed groupBy — no
    driver collect; the commit marker is the replay guard."""
    from pyspark.sql import functions as F

    from ..operators.funnel import linear_attribution

    aggs = [
        F.sum(c).cast("long").alias(c)
        for c in ("n_touches", "n_conversions", "_cv_q", "_cc_q")
    ]

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        convs = batch_df.where(F.col("event_type") == "purchase")
        if convs.isEmpty():
            return
        delta = linear_attribution(
            touches.unionByName(convs.select(*touches.columns)),
            "purchase",
            ["view", "click"],
            raw=True,
        )
        # per-bucket _SUCCESS commits are the replay guard — a
        # mid-batch failure is retried on the same-id re-invocation,
        # never skipped
        state.apply_delta(delta, batch_id, ["touch_type"], aggs)

    return fold


def stream_attribution(
    spark: SparkSession, sf_dir: str, n_files: int = 8
) -> DataFrame:
    """Streaming linear multi-touch attribution: PURCHASE events arrive
    as micro-batches; each batch's conversions compute their quantized
    1/n credits against the STATIC touch history (operators/funnel.py::
    linear_attribution with ``raw=True`` — a per-conversion
    computation, so a conversion's credits are complete within the one
    batch that carries it), and the per-touch-type integer credit rows
    fold additively into running state inside ``foreachBatch`` (the
    stream_incremental_agg discipline: state is |touch types| rows,
    history never re-scanned, and the state lives as a committed
    parquet snapshot merged distributedly, never collected to the
    driver).

    Every state column is an exact BIGINT that ADDS across the disjoint
    conversion partition — so over a drained availableNow stream the
    final state equals the batch ``attribution_linear_events`` result
    bit-for-bit, which is exactly what the shared oracle attests. The
    fold is exactly-once under foreachBatch's at-least-once retry
    contract via the last-applied batch_id guard
    (``_make_attribution_fold``)."""
    from pyspark.sql import functions as F

    from ..sources.readers import read_table

    ev = read_table(spark, sf_dir, "events")
    touches = ev.where(F.col("event_type").isin("view", "click"))
    stream = _split_stream(spark, sf_dir, "events", n_files)
    state = _ParquetFoldState(spark, "attr")
    _drain(stream, fold=_make_attribution_fold(spark, state, touches))
    # read_or_empty: a conversion-free stream must degrade to an empty
    # result like the batch twin (tests/test_empty_inputs.py)
    final = state.read_or_empty(
        "touch_type string, n_touches long, n_conversions long, "
        "_cv_q long, _cc_q long"
    )
    return final.select(
        "touch_type",
        "n_touches",
        "n_conversions",
        (F.col("_cv_q").cast("double") / F.lit(100.0)).alias("credited_value"),
        (F.col("_cc_q").cast("double") / F.lit(1000000.0)).alias(
            "credited_conversions"
        ),
    )


def stream_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HTML main-content extraction: arriving page shards run
    the identical per-row wrap→extract column pipeline as the batch
    ``html_extract_documents`` (operators/html.py) — the landing-zone
    shape for a continuous crawl: boilerplate is stripped the moment a
    page lands, before anything stateful touches it.

    Entirely STATELESS append-mode maps (array lambdas, no watermark,
    no state store, no shuffle) — arbitrarily long uptime with zero
    state growth, and over static input with an availableNow trigger
    the result equals the batch derivation exactly, so the query
    carries the batch's full value oracle."""
    from ..operators.html import html_main_content, wrap_documents_html

    stream = _table_stream(spark, sf_dir, "documents")
    return _drain(html_main_content(wrap_documents_html(stream)), "html_extract")


def _make_incremental_cc_fold(spark: SparkSession, state: _ParquetFoldState):
    """foreachBatch fold for ``stream_incremental_cc``: maintains the
    connected-components labeling of the part co-order graph as edge
    batches arrive, WITHOUT ever re-reading old edges — the classic
    contracted-graph trick: the running labeling (node → component) is
    itself a spanning star forest, so CC over (batch edges ∪ state
    star edges) reproduces exactly the components of everything seen,
    at per-batch cost ∝ |V| + |batch|, not Σ|batches|.

    Exactly-once under foreachBatch's at-least-once replay AND state
    residence come from the ``_ParquetFoldState`` commit marker: the
    |V|-row star forest lives as a committed parquet snapshot joined
    distributedly per batch — the driver never collects a state
    row."""
    from pyspark.sql import functions as F

    from ..operators.graph import connected_components

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= state.last_batch():
            return
        # two chained codegen'd Generates instead of the interpreted
        # nested-lambda expansion (the _co_order_edges form)
        edges = (
            batch_df.groupBy("l_orderkey")
            .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
            .select(F.posexplode("ps").alias("i", "id_a"), F.col("ps"))
            .select(
                "id_a",
                F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("id_b"),
            )
        )  # no .distinct() here — connected_components canonicalizes
        prev = state.read()
        if prev is not None:
            # the committed labeling IS a spanning star forest — feed
            # it back as (component, id) edges
            edges = edges.unionByName(
                prev.select(
                    F.col("component").alias("id_a"), F.col("id").alias("id_b")
                )
            )
        if edges.isEmpty():
            return
        labels = connected_components(edges, "id_a", "id_b")
        state.write(labels.select("id", "component"), batch_id)

    return fold


def stream_incremental_cc(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> DataFrame:
    """STREAMING graph maintenance: connected components of the part
    co-order graph kept current as lineitem micro-batches arrive.
    Each batch expands its own per-order part pairs (the order-keyed
    file split guarantees whole orders per batch) and merges them into
    the running component labeling inside ``foreachBatch`` via the
    contracted-graph fold (``_make_incremental_cc_fold``) — history is
    never re-scanned; per-batch work is |V| + |batch edges|.

    Over a drained availableNow stream the final labeling must equal
    batch connected components over ALL co-order edges EXACTLY (min-id
    component labels are canonical, so the recursive-CTE oracle
    attests full values — the streaming twin of the graph suite's CC,
    same discipline as stream_incremental_agg vs the batch aggregate).
    """
    # high-quantity lines only: the bulk-co-purchase graph is sparser,
    # many real components instead of one dense blob
    stream = _split_stream(
        spark, sf_dir, "lineitem", n_files, by="l_orderkey",
        where="l_quantity >= 45", cols=("l_orderkey", "l_partkey"),
    )
    state = _ParquetFoldState(spark, "cc")
    _drain(stream, fold=_make_incremental_cc_fold(spark, state))
    final = state.read_or_empty("id long, component long")
    return final.select("id", "component").orderBy("id")


def stream_benford(spark: SparkSession, sf_dir: str, n_files: int = 6) -> DataFrame:
    """Streaming Benford first-digit screen: the auditor's
    fabricated-amounts test running against a LIVE ledger — per
    micro-batch, exact (group, leading-digit) counts aggregate
    batch-locally and fold ADDITIVELY into running state inside
    ``foreachBatch`` (the stream_incremental_agg discipline: digit
    counts are the mergeable sufficient statistic of the whole test,
    so state is ≤ 9·|groups| rows and history is never re-scanned);
    the chi-square finish (operators/fraud_stats.py::
    benford_from_counts) runs ONCE on the drained state with the
    identical pinned 1e-9-quantized expression tree as the batch
    operator, so the drained availableNow stream equals the batch
    query bit-for-bit — which the shared oracle attests. State lives in
    the same bucketed ``_ParquetFoldState`` store as every sibling fold
    (no driver-resident state; the fold spy test covers it);
    exactly-once under foreachBatch's at-least-once retries via the
    per-bucket commit-marker guard."""
    from pyspark.sql import functions as F

    from ..operators.fraud_stats import benford_from_counts

    cents = F.round(F.col("value") * 100).cast("long")

    def delta(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.where(cents > 0)
            .select(
                F.col("event_type").alias("grp"),
                F.substring(cents.cast("string"), 1, 1)
                .cast("int")
                .alias("digit"),
            )
            .groupBy("grp", "digit")
            .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
        )

    final = _fold_drain(
        _split_stream(spark, sf_dir, "events", n_files),
        "benford",
        ["grp", "digit"],
        [F.sum("n_obs").cast("long").alias("n_obs")],
        delta,
        "grp string, digit int, n_obs long",
    )
    return benford_from_counts(final, "event_type")


def stream_last_digits(
    spark: SparkSession, sf_dir: str, n_files: int = 6
) -> DataFrame:
    """Streaming last-two-digits uniformity screen — the live form of
    ``last_digits_orders``, completing the live digit-test pair
    (stream_benford = magnitudes, this = endings): per micro-batch,
    exact (priority, cents mod 100) counts aggregate batch-locally
    and fold ADDITIVELY through the bucketed parquet state store
    (digit counts are the test's mergeable sufficient statistic —
    state is ≤ 100·|priorities| rows, history never re-scanned); the
    uniform-expectation chi-square finish
    (operators/fraud_stats.py::last_digits_from_counts) runs ONCE on
    the drained state with the identical pinned quantized tree, so
    drained availableNow ≡ the batch query bit-for-bit — attested by
    the SHARED oracle. Exactly-once via the per-bucket commit-marker
    guard."""
    from pyspark.sql import functions as F

    from ..operators.fraud_stats import last_digits_from_counts

    cents = F.round(F.col("o_totalprice") * 100).cast("long")

    def delta(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.where(cents >= 1000)
            .select(
                F.col("o_orderpriority").alias("grp"),
                (cents % 100).cast("int").alias("digit"),
            )
            .groupBy("grp", "digit")
            .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
        )

    final = _fold_drain(
        _split_stream(spark, sf_dir, "orders", n_files),
        "last_digits",
        ["grp", "digit"],
        [F.sum("n_obs").cast("long").alias("n_obs")],
        delta,
        "grp string, digit int, n_obs long",
    )
    return last_digits_from_counts(final, "o_orderpriority")


def stream_structuring(
    spark: SparkSession, sf_dir: str, n_files: int = 6
) -> DataFrame:
    """The amount-structuring screen as a LIVE ledger stream: per
    micro-batch, each entity's exact (n_amounts, band_hits,
    round_hits) counts aggregate batch-locally and fold ADDITIVELY in
    ``foreachBatch`` (the stream_benford discipline — the per-entity
    count triple is the screen's mergeable sufficient statistic, so
    state is |entities| rows and history is never re-scanned); the
    ledger-wide base rates and the exact decimal(38,0)
    cross-multiplied flags compute ONCE on the drained state with the
    identical tail as the batch operator, so drained availableNow
    equals ``structuring_orders`` bit-for-bit — which the SHARED
    oracle attests. State residence: the
    |entities|-row count-triple state is a committed parquet snapshot
    (``_ParquetFoldState``) merged by a distributed groupBy — no
    driver collect of per-entity state, and the commit marker doubles
    as the exactly-once replay guard."""
    from pyspark.sql import functions as F

    lo, hi, mod = 45_000_00, 50_000_00, 100
    cents = F.round(F.col("o_totalprice") * 100).cast("long")

    def delta(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(
                F.col("o_custkey").alias("entity"), cents.alias("c")
            )
            .where(F.col("c") > 0)
            .groupBy("entity")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_amounts"),
                F.sum(
                    F.when((F.col("c") >= lo) & (F.col("c") < hi), 1).otherwise(0)
                )
                .cast("long")
                .alias("band_hits"),
                F.sum(F.when(F.col("c") % mod == 0, 1).otherwise(0))
                .cast("long")
                .alias("round_hits"),
            )
        )

    per = _fold_drain(
        _split_stream(spark, sf_dir, "orders", n_files),
        "structuring",
        ["entity"],
        [
            F.sum(c).cast("long").alias(c)
            for c in ("n_amounts", "band_hits", "round_hits")
        ],
        delta,
        "entity long, n_amounts long, band_hits long, round_hits long",
    ).where(F.col("n_amounts") >= 5)
    # identical finish as operators/fraud_stats.py::amount_structuring:
    # |entities|-row base-rate reduce + exact cross-multiplied flags
    glob = per.agg(
        F.sum("n_amounts").cast("decimal(38,0)").alias("g_n"),
        F.sum("band_hits").cast("decimal(38,0)").alias("g_band"),
        F.sum("round_hits").cast("decimal(38,0)").alias("g_round"),
    )
    j = per.crossJoin(F.broadcast(glob))
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    mult = F.lit(3).cast("decimal(38,0)")
    return j.select(
        F.col("entity").alias("o_custkey"),
        "n_amounts",
        "band_hits",
        (F.col("band_hits").cast("double") / F.col("n_amounts").cast("double")).alias(
            "band_frac"
        ),
        "round_hits",
        (
            F.col("round_hits").cast("double") / F.col("n_amounts").cast("double")
        ).alias("round_frac"),
        (
            (F.col("band_hits") >= 2)
            & (d38("band_hits") * d38("g_n") >= mult * d38("n_amounts") * d38("g_band"))
        ).alias("structuring_flag"),
        (
            (F.col("round_hits") >= 2)
            & (
                d38("round_hits") * d38("g_n")
                >= mult * d38("n_amounts") * d38("g_round")
            )
        ).alias("round_flag"),
    )


def stream_dormancy_flags(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 4,
    dormant_days: int = 60,
    spend_cents: int = 400_000_00,
) -> DataFrame:
    """STREAMING dormancy-reactivation screen — the live form of
    fraud_stats.py::dormancy_reactivation, completing the live-screen
    family (velocity, Benford, structuring, dormancy): per entity,
    ``applyInPandasWithState`` keeps ONE long (the last seen epoch
    day) as state; each arriving order emits its integer gap since the
    entity's previous order and the dormant / big-comeback flags,
    exactly once.

    Batch-twin discipline (shares dormancy_reactivation_orders' DuckDB
    oracle): the batch lag orders by (date, orderkey); the ordered
    file source delivers micro-batches in date order with same-date
    ties never split across batches (repartitionByRange), and the
    update fn sorts each batch by (date, orderkey) — so the per-entity
    sequence the state walks IS the batch window order, and the
    drained availableNow output equals the batch query row for row.
    Day arithmetic is exact integer epoch-days end-to-end."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = _split_stream(
        spark, sf_dir, "orders", n_files, by="o_orderdate", ordered=True
    ).select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("epoch_day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )

    out_type = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("epoch_day", T.LongType()),
            T.StructField("cents", T.LongType()),
            T.StructField("gap_days", T.IntegerType()),
            T.StructField("dormant_flag", T.BooleanType()),
            T.StructField("reactivation_flag", T.BooleanType()),
        ]
    )
    state_type = T.StructType([T.StructField("last_day", T.LongType())])

    def update(key_, pdf_iter, state: GroupState):
        last = state.get[0] if state.exists else None
        ck = int(key_[0])
        rows = {k: [] for k in ("ok", "d", "c", "g", "df", "rf")}
        # Concatenate the WHOLE iterator before one global sort: when a
        # key's rows in a micro-batch exceed
        # spark.sql.execution.arrow.maxRecordsPerBatch (default 10k)
        # they arrive as multiple pandas chunks in arbitrary order, and
        # sorting each chunk independently would break the
        # (epoch_day, o_orderkey) walk across chunk boundaries —
        # silently diverging from the batch oracle.
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["epoch_day", "o_orderkey"]
            )
            for ok_, day_, cents_ in zip(
                pdf["o_orderkey"], pdf["epoch_day"], pdf["cents"]
            ):
                day, cents_i = int(day_), int(cents_)
                gap = None if last is None else day - int(last)
                dormant = gap is not None and gap >= dormant_days
                rows["ok"].append(int(ok_))
                rows["d"].append(day)
                rows["c"].append(cents_i)
                rows["g"].append(gap)
                rows["df"].append(bool(dormant))
                rows["rf"].append(bool(dormant and cents_i >= spend_cents))
                last = day
        if last is not None:
            state.update((int(last),))
        yield pd.DataFrame(
            {
                "o_orderkey": rows["ok"],
                "o_custkey": [ck] * len(rows["ok"]),
                "epoch_day": rows["d"],
                "cents": rows["c"],
                "gap_days": pd.array(rows["g"], dtype="Int32"),
                "dormant_flag": rows["df"],
                "reactivation_flag": rows["rf"],
            }
        )

    emitted = stream.groupBy("o_custkey").applyInPandasWithState(
        update, out_type, state_type, "update", GroupStateTimeout.NoTimeout
    )
    return _drain(emitted, "dormancy", "update").select(
        "o_orderkey",
        "o_custkey",
        F.date_add(F.lit("1970-01-01").cast("date"), F.col("epoch_day").cast("int"))
        .alias("event_date"),
        "cents",
        "gap_days",
        "dormant_flag",
        "reactivation_flag",
    )


def stream_duplicate_charges(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 6,
    horizon_s: int = 604800,
) -> DataFrame:
    """STREAMING duplicate-charge screen — the live form of
    ``duplicate_charges_events``, on the JVM foreachBatch parquet-fold.

    The first shipping (applyInPandasWithState, one long per
    (entity, cents) key) carried the engine's worst scale curve: the
    key grain makes ~1M ONE-ROW Python groups per micro-batch at sf1,
    and a measured three-variant A/B (SCALING.md) proved
    the cost is per-GROUP frame construction in the Arrow/pandas
    bridge — 5.4× wall on 10× data even after the yield-only-on-hits
    fix. This version keeps the same state algebra but entirely
    JVM-side, the ``stream_structuring``/``_ParquetFoldState`` shape:

    * state = the (user_id, cents) → last_s table as a committed,
      hash-bucketed parquet snapshot (max is the screen's mergeable
      sufficient statistic; ``apply_delta`` rewrites only touched
      buckets, exactly-once per bucket);
    * per micro-batch: ONE within-batch lag window over
      (epoch_s, event_id) — the batch query's own window — plus ONE
      join against the state table resolves every row's predecessor
      (``coalesce(lag, state.last_s)``); hits (gap ≤ ``horizon_s``)
      land in the store's per-batch output log BEFORE the state fold,
      so a foreachBatch replay skips committed hits and the per-bucket
      guard skips committed state — no double emission, no stale
      reads;
    * no per-group Python anywhere — the whole batch is columnar
      whole-stage-codegen work.

    Batch-twin equivalence (shares the batch query's DuckDB oracle):
    the ordered file source delivers micro-batches in ts order with
    same-second ties never split (repartitionByRange), so a key's
    first in-batch row's true predecessor is exactly the state's
    last_s from prior batches, and every later row's predecessor is
    the within-batch lag — drained availableNow output equals the
    batch query row for row. Cents and epoch seconds are exact
    integers end-to-end; the state join is null-safe so null-keyed
    rows (none in the gate data) would chain exactly like the batch
    window's null-keeping partitionBy."""
    from pyspark.sql import Window as W

    from ..operators.joins import null_safe_equi_join

    stream = _split_stream(
        spark, sf_dir, "events", n_files, by="ts", ordered=True
    ).select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.floor(F.unix_timestamp(F.col("ts"))).cast("long").alias("epoch_s"),
    )
    state = _ParquetFoldState(spark, "dupcharge")
    keys = ["user_id", "cents"]
    last_s = [F.max("last_s").cast("long").alias("last_s")]

    def hits(batch_df: DataFrame) -> DataFrame:
        w = W.partitionBy(*keys).orderBy("epoch_s", "event_id")
        cur = batch_df.withColumn("_bprev", F.lag("epoch_s").over(w))
        prev = state.read()
        if prev is not None:
            # null-safe keys: the batch window keeps NULL keys as
            # their own partition, so the state join must too
            cur = null_safe_equi_join(cur, prev, keys, "left")
        else:
            cur = cur.withColumn("last_s", F.lit(None).cast("long"))
        prev_s = F.coalesce(F.col("_bprev"), F.col("last_s"))
        return (
            cur.withColumn("prev_s", prev_s)
            .where(
                F.col("prev_s").isNotNull()
                & (F.col("epoch_s") - F.col("prev_s") <= horizon_s)
            )
            .select(
                "event_id",
                "user_id",
                "cents",
                "epoch_s",
                "prev_s",
                (F.col("epoch_s") - F.col("prev_s")).alias("gap_s"),
            )
        )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        state.log(batch_id, lambda: hits(batch_df))
        delta = batch_df.groupBy(*keys).agg(
            F.max("epoch_s").cast("long").alias("last_s")
        )
        state.apply_delta(delta, batch_id, keys, last_s)

    _drain(stream, fold=fold)
    return state.read_log(
        "event_id long, user_id long, cents long, epoch_s long, "
        "prev_s long, gap_s long"
    ).orderBy("event_id")


def stream_impossible_velocity(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 6,
) -> DataFrame:
    """STREAMING impossible-velocity screen — the live form of
    ``impossible_velocity_events`` (operators/fraud_stats.py::
    impossible_velocity), the ``stream_duplicate_charges`` fold shape
    with a coarser key: state is the (user_id) → latest
    (epoch_s, event_id, event_type) table as a committed,
    hash-bucketed parquet snapshot (``max_by`` over the
    (epoch_s, event_id) order is the screen's mergeable sufficient
    statistic — each entity's chain head), folded entirely JVM-side
    via ``apply_delta`` (touched buckets only, exactly-once per
    bucket).

    Per micro-batch: ONE entity-keyed lag window over
    (epoch_s, event_id) — the batch query's own window — resolves
    within-batch predecessors (epoch, id, AND type as one struct, so
    the three fields can never mix sources), one null-safe state join
    resolves each entity's first-in-batch row, then the broadcast
    |floors|-row transition join prices every gap; hits (gap <
    floor) commit to the store's per-batch output log BEFORE the state
    fold (the replay-skip discipline).

    Batch-twin equivalence (shares the batch query's DuckDB oracle):
    the ordered file source delivers micro-batches in ts order and
    never splits an exactly-equal-ts tie group. Unlike the
    duplicate-charges twin — which carries only epoch VALUES, immune
    to tie identity — this screen emits the predecessor's IDENTITY
    (prev_event_id/prev_type), so cross-batch equivalence additionally
    needs event_id order to agree with event-time order WITHIN a
    same-epoch-second group that straddles a file boundary (true of
    the testdata and of any feed that assigns ids in arrival order;
    the drained-≡-batch pytest and the shared oracle attest it on the
    gate data)."""
    from pyspark.sql import Window as W

    from ..operators.fraud_stats import DEFAULT_VELOCITY_FLOORS_S
    from ..operators.joins import null_safe_equi_join

    stream = _split_stream(
        spark, sf_dir, "events", n_files, by="ts", ordered=True
    ).select(
        "event_id",
        "user_id",
        F.col("event_type"),
        F.floor(F.unix_timestamp(F.col("ts"))).cast("long").alias("epoch_s"),
    )
    floors_df = spark.createDataFrame(
        [(p, c, int(s)) for (p, c), s in sorted(DEFAULT_VELOCITY_FLOORS_S.items())],
        "f_prev string, f_curr string, floor_s long",
    )

    state = _ParquetFoldState(spark, "velocity")
    last_struct = "struct(epoch_s AS last_s, event_id AS last_eid, event_type AS last_ty)"
    order_struct = "struct(epoch_s, event_id)"
    last = [
        F.expr(
            "max_by(last, struct(last.last_s AS epoch_s, "
            "last.last_eid AS event_id))"
        ).alias("last")
    ]

    def hits(batch_df: DataFrame) -> DataFrame:
        w = W.partitionBy("user_id").orderBy("epoch_s", "event_id")
        cur = batch_df.withColumn(
            "_bprev",
            F.lag(
                F.struct(
                    F.col("epoch_s").alias("last_s"),
                    F.col("event_id").alias("last_eid"),
                    F.col("event_type").alias("last_ty"),
                )
            ).over(w),
        )
        prev = state.read()
        if prev is not None:
            cur = null_safe_equi_join(cur, prev, ["user_id"], "left")
        else:
            cur = cur.withColumn(
                "last",
                F.lit(None).cast(
                    "struct<last_s: bigint, last_eid: bigint, last_ty: string>"
                ),
            )
        p = F.coalesce(F.col("_bprev"), F.col("last"))
        priced = (
            cur.withColumn("_p", p)
            .join(
                F.broadcast(floors_df),
                (F.col("_p.last_ty") == F.col("f_prev"))
                & (F.col("event_type") == F.col("f_curr")),
                "left",
            )
            .withColumn("floor_s", F.coalesce(F.col("floor_s"), F.lit(1).cast("long")))
        )
        gap = F.col("epoch_s") - F.col("_p.last_s")
        return priced.where(
            F.col("_p").isNotNull() & (gap < F.col("floor_s"))
        ).select(
            "event_id",
            "user_id",
            F.col("_p.last_eid").alias("prev_event_id"),
            F.col("_p.last_ty").alias("prev_type"),
            F.col("event_type").alias("curr_type"),
            F.col("_p.last_s").alias("prev_s"),
            "epoch_s",
            gap.alias("gap_s"),
            "floor_s",
        )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        state.log(batch_id, lambda: hits(batch_df))
        delta = batch_df.groupBy("user_id").agg(
            F.expr(f"max_by({last_struct}, {order_struct})").alias("last")
        )
        state.apply_delta(delta, batch_id, ["user_id"], last)

    _drain(stream, fold=fold)
    return state.read_log(
        "event_id long, user_id long, prev_event_id long, prev_type string, "
        "curr_type string, prev_s long, epoch_s long, gap_s long, floor_s long"
    ).orderBy("event_id")


def stream_peer_outliers(
    spark: SparkSession, sf_dir: str, n_files: int = 6
) -> DataFrame:
    """The peer-group outlier screen as a live ledger stream: each
    micro-batch broadcast-enriches arriving orders with the static
    customer dimension (the stream-static join pattern) and folds the
    exact per-(entity, peer) moment triple (n, Σcents, Σcents²)
    additively in ``foreachBatch`` — moments are the screen's
    mergeable sufficient statistic, so state is |entities| rows and
    history is never re-scanned; the LEAVE-ONE-OUT peer baselines and
    the pinned IEEE z tail (operators/fraud_stats.py::
    peer_group_outliers' finish, inlined with the identical expression
    tree) run once on the drained state. Drained availableNow ≡ the
    batch ``peer_outlier_customers`` bit-for-bit — attested by the
    SHARED oracle. State residence: the
    |entities|-row moment state is a committed parquet snapshot
    (``_ParquetFoldState``) merged by a distributed groupBy — no
    driver collect of per-entity state; the commit marker doubles as
    the exactly-once replay guard."""
    from pyspark.sql import functions as F

    stream = _split_stream(spark, sf_dir, "orders", n_files)
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).select(
        "c_custkey", "c_nationkey"
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")

    def delta(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.join(F.broadcast(cust), batch_df.o_custkey == cust.c_custkey)
            .select(
                F.col("c_custkey").alias("entity"),
                F.col("c_nationkey").alias("peer"),
                cents.alias("c"),
            )
            .where(F.col("c").isNotNull())
            .groupBy("entity", "peer")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_e"),
                F.sum("c").cast("decimal(38,0)").alias("s_e"),
                F.sum(
                    F.col("c").cast("decimal(19,0)") * F.col("c").cast("decimal(19,0)")
                )
                .cast("decimal(38,0)")
                .alias("ss_e"),
            )
        )

    # the bucket key is the full group key
    per = _fold_drain(
        stream,
        "peer",
        ["entity", "peer"],
        [
            F.sum("n_e").cast("long").alias("n_e"),
            F.sum("s_e").cast("decimal(38,0)").alias("s_e"),
            F.sum("ss_e").cast("decimal(38,0)").alias("ss_e"),
        ],
        delta,
        "entity long, peer int, n_e long, s_e decimal(38,0), ss_e decimal(38,0)",
    )
    # identical finish as peer_group_outliers (min_peers=10, |z| > 3)
    d38 = "decimal(38,0)"
    grp = per.groupBy("peer").agg(
        F.sum("n_e").cast(d38).alias("n_g"),
        F.sum("s_e").cast(d38).alias("s_g"),
        F.sum("ss_e").cast(d38).alias("ss_g"),
    )
    j = per.join(grp, "peer")
    n_rest = (F.col("n_g") - F.col("n_e").cast(d38)).cast("double")
    mu = (F.col("s_g") - F.col("s_e")).cast("double") / n_rest
    var = (F.col("ss_g") - F.col("ss_e")).cast("double") / n_rest - mu * mu
    mean_e = F.col("s_e").cast("double") / F.col("n_e").cast("double")
    ok = (F.col("n_g") - F.col("n_e").cast(d38) >= 10) & (var > 0)
    z = F.when(ok, (mean_e - mu) / F.sqrt(var))
    return j.select(
        F.col("entity").alias("c_custkey"),
        F.col("peer").alias("c_nationkey"),
        F.col("n_e").alias("n_events"),
        (mean_e / F.lit(100.0)).alias("mean_value"),
        F.when(ok, mu / F.lit(100.0)).alias("peer_mu"),
        F.when(ok, F.sqrt(var) / F.lit(100.0)).alias("peer_sigma"),
        z.alias("z"),
        F.coalesce(F.abs(z) > F.lit(3.0), F.lit(False)).alias("outlier_flag"),
    )


def stream_fraud_risk_report(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 4,
    window_seconds: int = 3600,
    count_threshold: int = 3,
    cents_threshold: int = 200_00,
) -> DataFrame:
    """STREAMING composed fraud-risk report: the
    operator a live deployment would actually run — ONE events-ledger
    feed, and per entity a SINGLE ``applyInPandasWithState`` pass
    folds all three screens' sufficient statistics simultaneously:

    * VELOCITY — the trailing-hour (second, cents) slice (exactly the
      ``stream_velocity_flags`` state and tie-group walk) plus the
      three rollups the report keeps: events whose trailing count /
      cents crossed the thresholds, and the peak trailing cents.
      Aggregated ON ARRIVAL — exact because the ordered source
      delivers complete windows at processing time (tie seconds never
      split across batches);
    * BURSTINESS — (n_gaps, Σgap, Σgap² hi/lo-split to dodge int64)
      plus the entity's last second for the cross-batch bridge gap;
      gap values depend only on the sorted second sequence, so
      in-order arrival makes the fold exact;
    * BENFORD — the nine leading-digit counts of positive cents.

    Each batch emits the entity's updated fold (state-row sized, all
    additive); the drained finish keeps the LATEST emission per
    entity (n_events is strictly monotone — the
    stream_user_stats_stateful discipline) and computes the batch
    report's IDENTICAL pinned expression trees: the burstiness
    decimal moment tail (operators/fraud_stats.py::
    interevent_burstiness's spelling), the Benford chi-square via the
    shared ``benford_from_counts``, and the same flag / score /
    verdict combine — so drained availableNow equals the batch
    ``fraud_risk_report_events`` BIT-FOR-BIT, attested by the SHARED
    full-chain oracle.

    State residence: per-entity state lives in the streaming state
    store (executor-resident, keyed shuffle per batch), size
    O(events-per-entity-per-hour) + 15 scalars — never history; the
    drained tail touches only |entities|-row emissions."""
    import pandas as pd
    from pyspark.sql import Window, types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.fraud_stats import CHI2_8DF_99, benford_from_counts

    stream = _split_stream(
        spark, sf_dir, "events", n_files, by="ts", ordered=True
    ).select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("epoch_s"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )

    out_type = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("n_velocity_events", T.LongType()),
            T.StructField("n_spend_events", T.LongType()),
            T.StructField("max_cents_trailing", T.LongType()),
            T.StructField("n_gaps", T.LongType()),
            T.StructField("sg", T.LongType()),
            T.StructField("ss_hi", T.LongType()),
            T.StructField("ss_lo", T.LongType()),
            T.StructField("digits", T.ArrayType(T.LongType())),
        ]
    )
    state_type = T.StructType(
        [
            T.StructField("n_events", T.LongType()),
            T.StructField("n_vel", T.LongType()),
            T.StructField("n_spend", T.LongType()),
            T.StructField("max_ctr", T.LongType()),
            T.StructField("epochs", T.ArrayType(T.LongType())),
            T.StructField("cents_tr", T.ArrayType(T.LongType())),
            T.StructField("last_s", T.LongType()),
            T.StructField("n_gaps", T.LongType()),
            T.StructField("sg", T.LongType()),
            T.StructField("ss_hi", T.LongType()),
            T.StructField("ss_lo", T.LongType()),
            T.StructField("digits", T.ArrayType(T.LongType())),
        ]
    )
    _SPLIT = 1 << 62

    def update(key_, pdf_iter, state: GroupState):
        from collections import deque

        if state.exists:
            (
                n_ev, n_vel, n_sp, max_ctr, epochs, cents_tr, last_s,
                n_gaps, sg, ss_hi, ss_lo, digs,
            ) = state.get
            epochs, cents_tr, digs = deque(epochs), deque(cents_tr), list(digs)
            ss = ss_hi * _SPLIT + ss_lo
        else:
            n_ev = n_vel = n_sp = 0
            max_ctr = None
            epochs, cents_tr, last_s = deque(), deque(), None
            n_gaps = sg = ss = 0
            digs = [0] * 9
        # running window total: O(state) once per batch, O(1) amortized
        # per event after (the velocity-fold discipline)
        total = sum(cents_tr)
        # concat the whole iterator before ONE sort (the arrow
        # chunk-boundary contract shared by every stateful walk here)
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if not chunks and not state.exists:
            return
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["epoch_s", "event_id"]
            )
            secs = pdf["epoch_s"].tolist()
            cnts = pdf["cents"].tolist()
            i = 0
            while i < len(secs):
                j = i
                while j < len(secs) and secs[j] == secs[i]:
                    j += 1
                s = int(secs[i])
                lo = s - window_seconds
                while epochs and epochs[0] < lo:
                    epochs.popleft()
                    total -= cents_tr.popleft()
                tie_n = j - i
                tie_c = sum(int(c) for c in cnts[i:j])
                n_tr = len(epochs) + tie_n
                c_tr = total + tie_c
                if n_tr >= count_threshold:
                    n_vel += tie_n
                if c_tr >= cents_threshold:
                    n_sp += tie_n
                max_ctr = c_tr if max_ctr is None else max(max_ctr, c_tr)
                for t in range(i, j):
                    if last_s is not None:
                        gap = s - last_s
                        n_gaps += 1
                        sg += gap
                        ss += gap * gap
                    last_s = s
                    c = int(cnts[t])
                    if c > 0:
                        digs[int(str(c)[0]) - 1] += 1
                n_ev += tie_n
                epochs.extend([s] * tie_n)
                cents_tr.extend(int(c) for c in cnts[i:j])
                total += tie_c
                i = j
        state.update(
            (
                n_ev, n_vel, n_sp, int(max_ctr), list(epochs),
                list(cents_tr), int(last_s), n_gaps, sg, ss // _SPLIT,
                ss % _SPLIT, digs,
            )
        )
        yield pd.DataFrame(
            {
                "user_id": [int(key_[0])],
                "n_events": [n_ev],
                "n_velocity_events": [n_vel],
                "n_spend_events": [n_sp],
                "max_cents_trailing": [int(max_ctr)],
                "n_gaps": [n_gaps],
                "sg": [sg],
                "ss_hi": [ss // _SPLIT],
                "ss_lo": [ss % _SPLIT],
                "digits": [digs],
            }
        )

    emitted = stream.groupBy("user_id").applyInPandasWithState(
        update, out_type, state_type, "update", GroupStateTimeout.NoTimeout
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    st = (
        _drain(emitted, "fraud_risk", "update")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    from ..cache import plan_key, swap_cache

    # the sink's name is part of the analyzed plan, so each drain keys
    # its own slot
    st = swap_cache(plan_key("stream_fraud_risk.final", st), st)

    # --- Benford leg: drained digit counts through the SHARED batch
    # tail (benford_from_counts), then the batch query's digit==1 pick
    obs = (
        st.select("user_id", F.posexplode("digits").alias("pos", "n_obs"))
        .where(F.col("n_obs") > 0)
        .select(
            F.col("user_id").alias("grp"),
            (F.col("pos") + 1).cast("int").alias("digit"),
            F.col("n_obs").cast("long").alias("n_obs"),
        )
    )
    ben = (
        benford_from_counts(obs, "user_id")
        .where(F.col("digit") == 1)
        .select(
            "user_id",
            F.col("n_total").alias("benford_n"),
            F.col("chi2").alias("benford_chi2"),
        )
    )

    # --- burstiness tail: interevent_burstiness's exact decimal
    # moment spelling, gated on the batch HAVING n_rows >= 3
    d38 = "decimal(38,0)"
    gate = F.col("n_events") >= 3
    ss_dec = F.col("ss_hi").cast(d38) * F.lit(_SPLIT).cast(d38) + F.col(
        "ss_lo"
    ).cast(d38)
    n_dec = F.col("n_gaps").cast(d38)
    sg_dec = F.col("sg").cast(d38)
    mu = F.col("sg").cast("double") / F.col("n_gaps").cast("double")
    sd = F.sqrt((n_dec * ss_dec - sg_dec * sg_dec).cast("double")) / F.col(
        "n_gaps"
    ).cast("double")
    burst = F.when(gate & (sd + mu > 0), (sd - mu) / (sd + mu))

    rep = st.join(ben, "user_id", "left")
    bot = gate & (burst.isNull() | (burst <= F.lit(-0.5)))
    benf = F.coalesce(
        (F.col("benford_n") >= 30)
        & (F.col("benford_chi2") > F.lit(CHI2_8DF_99)),
        F.lit(False),
    )
    score = (
        (F.col("n_velocity_events") > 0).cast("long")
        + (F.col("n_spend_events") > 0).cast("long")
        + F.lit(2) * bot.cast("long")
        + F.lit(2) * benf.cast("long")
    )
    return rep.select(
        "user_id",
        "n_events",
        "n_velocity_events",
        "n_spend_events",
        "max_cents_trailing",
        burst.alias("burstiness"),
        bot.alias("bot_flag"),
        "benford_chi2",
        "benford_n",
        benf.alias("benford_flag"),
        score.cast("long").alias("risk_score"),
        F.when(score >= 3, F.lit("high"))
        .when(score >= 1, F.lit("review"))
        .otherwise(F.lit("ok"))
        .alias("verdict"),
    ).orderBy("user_id")


def _stream_daily_totals(
    spark: SparkSession, sf_dir: str, n_files: int, state_key: str
) -> DataFrame:
    """Drain the live event feed into exact per-(series, day) cents
    totals — the ADDITIVE sufficient statistic the Pettitt and
    Mann–Kendall drift screens share (operators/stats.py::
    _daily_cents): per micro-batch the partial daily sums aggregate
    batch-locally and fold by keyed addition through the bucketed
    parquet state store, so state is |series|·|days| rows and history
    is never re-scanned. Returns the drained (grp, day, x) frame."""
    from pyspark.sql import functions as F

    def delta(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(
            F.col("event_type").alias("grp"),
            F.date_trunc("day", F.col("ts")).alias("day"),
        ).agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("x")
        )

    return _fold_drain(
        _split_stream(spark, sf_dir, "events", n_files),
        state_key,
        ["grp", "day"],
        [F.sum("x").cast("long").alias("x")],
        delta,
        "grp string, day timestamp, x long",
    )


def stream_pettitt(
    spark: SparkSession, sf_dir: str, n_files: int = 6
) -> DataFrame:
    """Streaming Pettitt changepoint screen: daily totals fold
    additively per micro-batch (``_stream_daily_totals``), the exact
    rank/cumulative finish (operators/stats.py::pettitt_from_daily)
    runs ONCE on the drained state — drained availableNow ≡ the batch
    ``pettitt_events`` bit-for-bit, attested by the SHARED oracle."""
    from ..operators.stats import pettitt_from_daily

    daily = _stream_daily_totals(spark, sf_dir, n_files, "pettitt")
    return pettitt_from_daily(daily, "event_type")


def stream_mann_kendall(
    spark: SparkSession, sf_dir: str, n_files: int = 6
) -> DataFrame:
    """Streaming Mann–Kendall trend screen over the same additive
    daily-totals fold, with the exact pair-join finish
    (operators/stats.py::mann_kendall_from_daily) run once on the
    drained state — drained availableNow ≡ the batch
    ``mann_kendall_events`` bit-for-bit, attested by the SHARED
    oracle."""
    from ..operators.stats import mann_kendall_from_daily

    daily = _stream_daily_totals(spark, sf_dir, n_files, "mann_kendall")
    return mann_kendall_from_daily(daily, "event_type")


def stream_seasonal_mann_kendall(
    spark: SparkSession, sf_dir: str, n_files: int = 6
) -> DataFrame:
    """Streaming seasonal Mann–Kendall (Hirsch–Slack) trend screen:
    the SAME additive daily-totals fold as the plain MK twin
    (``_stream_daily_totals`` — the weekday season is derived from
    the day key at finish time, so the fold state is unchanged), with
    the exact per-season pair-join finish (operators/stats.py::
    seasonal_mann_kendall_from_daily) run once on the drained state —
    drained availableNow ≡ the batch ``seasonal_mann_kendall_events``
    bit-for-bit, attested by the SHARED oracle."""
    from ..operators.stats import seasonal_mann_kendall_from_daily

    daily = _stream_daily_totals(spark, sf_dir, n_files, "seasonal_mk")
    return seasonal_mann_kendall_from_daily(daily, "event_type")


def stream_cross_entity_duplicates(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 6,
    window_s: int = 604800,
    min_entities: int = 2,
) -> DataFrame:
    """Streaming cross-entity duplicate-amount screen — the live form
    of ``cross_entity_duplicates_events``: the exact distinct-entity
    count is NOT additive, but the distinct (cents, window, entity)
    TRIPLE SET is (the streaming_distinct_pairs discipline), so state
    folds at triple grain with per-triple (count, min_s, max_s) —
    all keyed-additive merges through the bucketed parquet store —
    and the |triples|-row finish (entities per (cents, window),
    ≥ ``min_entities`` filter) runs once on the drained state.
    Drained availableNow ≡ the batch query bit-for-bit, attested by
    the SHARED oracle; exactly-once via the per-bucket commit-marker
    guard."""
    cents = F.round(F.col("value") * 100).cast("long")
    s = F.floor(F.unix_timestamp(F.col("ts"))).cast("long")
    keys = ["cents", "win_start_s", "_ent"]

    def delta(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(
                cents.alias("cents"),
                s.alias("_s"),
                F.col("user_id").alias("_ent"),
            )
            .withColumn(
                "win_start_s", F.col("_s") - (F.col("_s") % window_s)
            )
            .groupBy(*keys)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.min("_s").cast("long").alias("mn"),
                F.max("_s").cast("long").alias("mx"),
            )
        )

    per = _fold_drain(
        _split_stream(spark, sf_dir, "events", n_files),
        "xent_dup",
        keys,
        [
            F.sum("n").cast("long").alias("n"),
            F.min("mn").cast("long").alias("mn"),
            F.max("mx").cast("long").alias("mx"),
        ],
        delta,
        "cents long, win_start_s long, _ent long, n long, mn long, mx long",
    )
    return (
        per.groupBy("cents", "win_start_s")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            # count(_ent), not count(*): the batch twin's
            # count_distinct excludes NULL entities, so a NULL-entity
            # triple must contribute to n_events/first/last but never
            # to the entity count (drained ≡ batch even with null
            # keys)
            F.count(F.col("_ent")).cast("long").alias("n_entities"),
            F.min("mn").cast("long").alias("first_s"),
            F.max("mx").cast("long").alias("last_s"),
        )
        .where(F.col("n_entities") >= min_entities)
        .orderBy("cents", "win_start_s")
    )


def stream_cross_entity_duplicates_offset(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 6,
    window_s: int = 604800,
    min_entities: int = 2,
) -> DataFrame:
    """Streaming form of the TWO-GRID cross-entity screen
    (``cross_entity_duplicates_offset_events``): identical fold
    to :func:`stream_cross_entity_duplicates` with the grid id joined
    into the state key — each arriving event expands map-side into its
    (grid 0, grid 1) cells before the batch-local aggregation, state
    folds at (grid, cents, window, entity) grain, and the
    entities-per-cell finish runs once on the drained state. Drained
    availableNow ≡ the batch query bit-for-bit (SHARED oracle); 2×
    the state triples of the single-grid form, same plan shape."""
    half = window_s // 2
    cents = F.round(F.col("value") * 100).cast("long")
    s = F.floor(F.unix_timestamp(F.col("ts"))).cast("long")
    keys = ["grid", "cents", "win_start_s", "_ent"]

    def delta(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(
                cents.alias("cents"),
                s.alias("_s"),
                F.col("user_id").alias("_ent"),
            )
            .withColumn("grid", F.explode(F.array(F.lit(0), F.lit(1))))
            .withColumn(
                "win_start_s",
                F.col("_s")
                - ((F.col("_s") + F.col("grid") * half) % window_s),
            )
            .groupBy(*keys)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.min("_s").cast("long").alias("mn"),
                F.max("_s").cast("long").alias("mx"),
            )
        )

    per = _fold_drain(
        _split_stream(spark, sf_dir, "events", n_files),
        "xent_dup_off",
        keys,
        [
            F.sum("n").cast("long").alias("n"),
            F.min("mn").cast("long").alias("mn"),
            F.max("mx").cast("long").alias("mx"),
        ],
        delta,
        "grid int, cents long, win_start_s long, _ent long, "
        "n long, mn long, mx long",
    )
    return (
        per.groupBy("grid", "cents", "win_start_s")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.count(F.col("_ent")).cast("long").alias("n_entities"),
            F.min("mn").cast("long").alias("first_s"),
            F.max("mx").cast("long").alias("last_s"),
        )
        .where(F.col("n_entities") >= min_entities)
        .orderBy("cents", "win_start_s", "grid")
    )


def stream_spending_mix_drift(
    spark: SparkSession, sf_dir: str, n_files: int = 6
) -> DataFrame:
    """The spending-mix drift screen as a live stream — the streaming
    form of ``spending_mix_drift_events``: per micro-batch the exact
    (entity, week, category) cents-and-count cells aggregate
    batch-locally and fold ADDITIVELY through the bucketed parquet
    store (cells are the screen's mergeable sufficient statistic —
    'current week' is only knowable at drain time, so the week stays
    in the state key rather than being resolved per batch); the
    drained state resolves max(week), collapses to (entity, slice,
    category) grain, and runs the SHARED batch finish
    (operators/fraud_stats.py::mix_drift_from_cells) — identical
    pinned IEEE tree, so drained availableNow ≡ batch bit-for-bit
    (SHARED oracle). State is |entities|·|weeks|·|categories| rows;
    history is never re-scanned."""
    from ..operators.fraud_stats import mix_drift_from_cells

    keys = ["_e", "_m", "_c"]

    def delta(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(
                F.col("user_id").alias("_e"),
                F.col("event_type").alias("_c"),
                F.date_trunc("week", F.col("ts")).alias("_m"),
                F.round(F.col("value") * 100).cast("long").alias("_v"),
            )
            .where(
                F.col("_e").isNotNull()
                & F.col("_c").isNotNull()
                & F.col("_m").isNotNull()
            )
            .groupBy(*keys)
            .agg(
                F.sum("_v").cast("long").alias("_cv"),
                F.count(F.lit(1)).cast("long").alias("_cn"),
            )
        )

    cells = _fold_drain(
        _split_stream(spark, sf_dir, "events", n_files),
        "mixdrift",
        keys,
        [F.sum(c).cast("long").alias(c) for c in ("_cv", "_cn")],
        delta,
        "_e long, _m timestamp, _c string, _cv long, _cn long",
    )
    maxm = cells.agg(F.max("_m").alias("_maxm"))
    per = (
        cells.crossJoin(F.broadcast(maxm))
        .select(
            "_e", "_c", "_cv", "_cn", (F.col("_m") == F.col("_maxm")).alias("_cur")
        )
        .groupBy("_e", "_cur", "_c")
        .agg(
            F.sum("_cv").cast("long").alias("_cv"),
            F.sum("_cn").cast("long").alias("_cn"),
        )
    )
    return mix_drift_from_cells(per)


def stream_round_amount_bias(
    spark: SparkSession, sf_dir: str, n_files: int = 6
) -> DataFrame:
    """Streaming round-number bias screen: the Nigrini last-digits
    test against a LIVE order ledger — per micro-batch, exact
    (priority, n, n_round) counts aggregate batch-locally and fold
    ADDITIVELY into running state inside ``foreachBatch`` (the
    stream_benford discipline: the counts are the mergeable
    sufficient statistic of the whole test, so state is |groups| rows
    and history is never re-scanned); the one-proportion z finish
    (operators/fraud_stats.py::round_amount_bias_from_counts) runs
    ONCE on the drained state with the identical pinned IEEE tree as
    the batch operator, so the drained availableNow stream equals
    ``round_amount_bias_orders`` bit-for-bit — which the SHARED
    oracle attests. State lives in the bucketed ``_ParquetFoldState``
    store; exactly-once under foreachBatch retries via the per-bucket
    commit-marker guard."""
    from ..operators.fraud_stats import round_amount_bias_from_counts

    cents = F.round(F.col("o_totalprice") * 100).cast("long")

    def delta(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(
                F.col("o_orderpriority").alias("grp"), cents.alias("_c")
            )
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(F.when(F.col("_c") % 100 == 0, 1).otherwise(0))
                .cast("long")
                .alias("n_round"),
            )
        )

    final = _fold_drain(
        _split_stream(spark, sf_dir, "orders", n_files),
        "round_bias",
        ["grp"],
        [F.sum(c).cast("long").alias(c) for c in ("n", "n_round")],
        delta,
        "grp string, n long, n_round long",
    )
    return round_amount_bias_from_counts(final)


def _stream_user_days(
    spark: SparkSession, sf_dir: str, n_files: int, state_key: str
) -> DataFrame:
    """Drain the live event feed into its distinct (user_id, epoch-day
    ``d``) pair set — the sufficient statistic the rolling-WAU and
    new-vs-returning screens share: per micro-batch the NEW pairs fold
    into the bucketed parquet store as a key-set union, so state is
    |distinct pairs| and history is never re-scanned."""

    def delta(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.where(F.col("user_id").isNotNull())
            .select(
                "user_id",
                F.unix_date(F.col("ts").cast("date")).cast("long").alias("d"),
            )
            .distinct()
        )

    return _fold_drain(
        _split_stream(spark, sf_dir, "events", n_files),
        state_key,
        ["user_id", "d"],
        [],
        delta,
        "user_id long, d long",
    )


def stream_rolling_wau(
    spark: SparkSession, sf_dir: str, n_files: int = 6
) -> DataFrame:
    """Streaming rolling-WAU: the 7-day trailing distinct-actives
    metric maintained against a live event feed. Per micro-batch the
    NEW distinct (user, epoch-day) pairs fold into the bucketed
    parquet state store (the incremental-dedup discipline — the
    distinct pair set is the sufficient statistic of the whole
    metric, so state is |distinct pairs| and history is never
    re-scanned); the interval-coverage finish
    (operators/sequences.py::trailing_distinct_count's tail) runs
    ONCE on the drained pair set, so the drained availableNow stream
    equals the batch ``rolling_wau_events`` bit-for-bit — which the
    SHARED oracle attests."""
    from ..operators.sequences import trailing_distinct_count

    pairs = _stream_user_days(spark, sf_dir, n_files, "rolling_wau")
    return trailing_distinct_count(pairs, "user_id", "d", window_days=7)


def stream_new_vs_returning(
    spark: SparkSession, sf_dir: str, n_files: int = 6
) -> DataFrame:
    """Streaming new-vs-returning split: the distinct (user, day) pair
    set folds through the bucketed parquet state store per micro-batch
    (the stream_rolling_wau fold — the pair set is the sufficient
    statistic of BOTH metrics), and the batch finish (per-user min
    day + day-spine counts) runs once on the drained state. Drained
    availableNow ≡ the batch ``new_vs_returning_events`` bit-for-bit,
    which the SHARED oracle attests."""
    pairs = _stream_user_days(spark, sf_dir, n_files, "new_vs_ret")
    firstd = pairs.groupBy("user_id").agg(F.min("d").alias("fd"))
    bounds = pairs.agg(F.min("d").alias("_mn"), F.max("d").alias("_mx"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("_mn"), F.col("_mx"))).alias("day")
    )
    act = pairs.groupBy(F.col("d").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_active")
    )
    nw = firstd.groupBy(F.col("fd").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    return (
        spine.join(act, "day", "left")
        .join(nw, "day", "left")
        .select(
            "day",
            F.coalesce(F.col("n_active"), F.lit(0)).cast("long").alias(
                "n_active"
            ),
            F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new"),
            (
                F.coalesce(F.col("n_active"), F.lit(0))
                - F.coalesce(F.col("n_new"), F.lit(0))
            )
            .cast("long")
            .alias("n_returning"),
        )
        .orderBy("day")
    )
