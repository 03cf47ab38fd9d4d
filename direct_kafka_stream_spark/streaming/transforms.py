"""Event-time transforms shared by batch and streaming paths.

Each function takes a DataFrame with the events schema
(event_id long, ts timestamp, user_id long, event_type string,
value double, props string) and returns a transformed DataFrame.
Because Structured Streaming incrementalizes the *same* logical plan,
these run unchanged on ``spark.read.parquet`` (batch-analog oracle
checks, SURVEY.md §2.C) and on ``spark.readStream`` (streaming tests).

The reference had no event-time semantics at all — only 5 s
processing-time micro-batches (KafkaDirectStream.scala:41); windows,
watermarks, and sessionization are part of the mandated extension
surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.caching import track
from direct_kafka_stream_spark.exprs import DEC, dsum
from direct_kafka_stream_spark.io import spread_scan
from direct_kafka_stream_spark.operators import similarity, text
from direct_kafka_stream_spark.operators.llm import CURATION_LANGS, CURATION_TAU


def _win_bounds(win: Column) -> list[Column]:
    # Project window struct → epoch-second columns so results are
    # hash-comparable with the DuckDB oracle (timestamp → long floors).
    return [
        win.start.cast("long").alias("win_start"),
        win.end.cast("long").alias("win_end"),
    ]


def tumbling_counts(events: DataFrame, width: str = "10 minutes") -> DataFrame:
    """Tumbling event-time window per event_type: count + exact sum."""
    win = F.window("ts", width)
    return events.groupBy(win, "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("sum_value"),
    ).select(*_win_bounds(F.col("window")), "event_type", "n_events", "sum_value")


def sliding_counts(
    events: DataFrame, width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """Sliding windows — each event lands in width/slide windows."""
    win = F.window("ts", width, slide)
    return events.groupBy(win, "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("sum_value"),
    ).select(*_win_bounds(F.col("window")), "event_type", "n_events", "sum_value")


def session_counts(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Gap-based session windows per user (Spark ≥3.2 session_window).

    A session extends while consecutive events are < gap apart; an event
    exactly gap after its predecessor starts a new session."""
    win = F.session_window("ts", gap)
    return events.groupBy(win, "user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("sum_value"),
    ).select(
        F.col("session_window").start.cast("long").alias("session_start"),
        "user_id",
        "n_events",
        "sum_value",
    )


def dedup_keep_first(events: DataFrame, keys=("user_id", "event_type")) -> DataFrame:
    """Deterministic keep-first dedup: earliest (ts, event_id) row per
    key. Batch form uses a ranking window; the streaming form of the
    same intent is ``withWatermark(...).dropDuplicatesWithinWatermark``
    (state evicted as the watermark passes each key) — see
    dedup_streaming below."""
    w = Window.partitionBy(*keys).orderBy("ts", "event_id")
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts", "value")
    )


def dedup_streaming(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming dedup on the unique event key: exactly-once view of an
    at-least-once input (the reference's own caveat — its README tells
    users to 'deal with duplicates down the stream'; this is that
    operator).

    Uses dropDuplicatesWithinWatermark, NOT plain dropDuplicates: with
    a key subset that excludes the event-time column, plain
    dropDuplicates never evicts its state (the watermark only drops
    late input) — unbounded state on an unbounded stream. The
    WithinWatermark variant evicts each key once the watermark passes
    it, which is the only formulation that survives 100 TB/day."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def windowed_counts_with_watermark(
    events: DataFrame, width: str = "10 minutes", delay: str = "10 minutes"
) -> DataFrame:
    """Tumbling counts with a watermark: in streaming mode, rows older
    than max(event time) − delay are dropped from state (late data)."""
    return (
        events.withWatermark("ts", delay)
        .groupBy(F.window("ts", width), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(*_win_bounds(F.col("window")), "event_type", "n_events")
    )


def debounce_stateful(events: DataFrame, gap_s: int = 300) -> DataFrame:
    """Chain-collapse debounce as a custom stateful streaming operator
    (applyInPandasWithState): per (user_id, event_type), an event is
    kept only if it arrives more than ``gap_s`` seconds after the last
    KEPT event — so a long burst collapses to one kept event per gap
    window, however many events it contains. This is the semantics
    q_event_debounce's batch lag-rule approximates (lag compares to
    the previous EVENT; chain-collapse compares to the previous
    SURVIVOR) and the reason the streaming form needs real state: the
    survivor timestamp must carry across micro-batches.

    State is one epoch-second per (user, type) — bounded by the key
    domain, evictable with a timeout in production. Emitted rows are
    the kept (user_id, event_type, ts_s) tuples."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def collapse(key, pdfs, state: GroupState):
        last = state.get[0] if state.exists else None
        kept = []
        frames = [pdf for pdf in pdfs]
        allpdf = pd.concat(frames).sort_values(["ts", "event_id"])
        for ts in allpdf["ts"]:
            es = int(ts.timestamp())
            if last is None or es - last > gap_s:
                kept.append(es)
                last = es
        if last is not None:
            state.update((last,))
        if kept:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(kept),
                    "event_type": [key[1]] * len(kept),
                    "ts_s": kept,
                }
            )

    return events.groupBy("user_id", "event_type").applyInPandasWithState(
        collapse,
        outputStructType="user_id long, event_type string, ts_s long",
        stateStructType="last_kept long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sessionize_stateful(events: DataFrame, gap_s: int = 1800) -> DataFrame:
    """Gap-based sessionization as a custom stateful streaming operator
    (applyInPandasWithState): per user, a session CLOSES when the next
    event arrives more than ``gap_s`` seconds after the previous one;
    closed sessions are emitted as (user_id, session_seq, n_events,
    duration_s) — the same record shape as q_sessionize's batch rollup
    (operators/retrieval.py), whose flag + running-sum form recomputes
    over everything staged; this form carries ONE open session per user
    across micro-batches and emits each session exactly once, which is
    what an always-on ingest needs (state is 4 longs per active user,
    evictable with a timeout in production).

    Within-batch AND cross-batch gap semantics are identical to the
    batch analog PROVIDED each user's events arrive in event-time
    order across batches (the replay/backfill contract); the open
    session at stream end is intentionally unemitted (it has not
    closed)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def roll(key, pdfs, state: GroupState):
        if state.exists:
            seq, start, last, n = state.get
        else:
            seq, start, last, n = 0, None, None, 0
        out = []
        allpdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for ts in allpdf["ts"]:
            es = int(ts.timestamp())
            if last is None:
                seq, start, n = 1, es, 1
            elif es - last > gap_s:
                out.append((seq, n, last - start))
                seq, start, n = seq + 1, es, 1
            else:
                n += 1
            last = es
        state.update((seq, start if start is not None else 0, last or 0, n))
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(out),
                    "session_seq": [s for s, _, _ in out],
                    "n_events": [c for _, c, _ in out],
                    "duration_s": [d for _, _, d in out],
                }
            )

    return events.groupBy("user_id").applyInPandasWithState(
        roll,
        outputStructType=(
            "user_id long, session_seq long, n_events long, duration_s long"
        ),
        stateStructType="seq long, start_s long, last_s long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


IVM_VIEW_SCHEMA = "status string, n bigint, rev decimal(38,10)"


def ivm_apply_delta(view: DataFrame, cdc: DataFrame) -> DataFrame:
    """Apply one micro-batch of CDC rows to the per-status (n, rev)
    materialized aggregate — q_ivm_delta's retraction algebra
    (operators/engine.py) lifted to the foreachBatch sink, the
    batch/stream-unification flagship: the SAME delta-merge the batch
    operator proves exact against a from-scratch oracle keeps a live
    aggregate fresh per micro-batch without recomputing it
    (reference's store-then-process hook, KafkaDirectStream.scala:43-51).

    ``view`` rows follow IVM_VIEW_SCHEMA with ``rev`` UNROUNDED —
    round only on read: round(old) + round(delta) != round(new).
    ``cdc`` rows carry (status string, price, op string), op ∈
    {'insert','delete'}; an update is delete(old)+insert(new) in the
    same batch. A status whose count retracts to 0 drops out, matching
    a from-scratch recompute. Scale shape: the CDC batch collapses to
    a statuses-sized delta aggregate (map-side combined) before the
    tiny full-outer merge — per-batch cost is one pass over the batch,
    never over the view's history."""
    signed_n = F.when(F.col("op") == "insert", 1).otherwise(-1)
    signed_rev = F.when(
        F.col("op") == "insert", F.col("price")
    ).otherwise(-F.col("price"))
    delta = cdc.groupBy("status").agg(
        F.sum(signed_n).cast("bigint").alias("dn"),
        F.sum(signed_rev.cast(DEC)).cast(DEC).alias("drev"),
    )
    zero = F.lit(0).cast(DEC)
    merged = (
        view.alias("v")
        .join(delta.alias("d"), F.col("v.status") == F.col("d.status"), "full_outer")
        .select(
            F.coalesce(F.col("v.status"), F.col("d.status")).alias("status"),
            (
                F.coalesce(F.col("v.n"), F.lit(0))
                + F.coalesce(F.col("d.dn"), F.lit(0))
            )
            .cast("bigint")
            .alias("n"),
            (F.coalesce(F.col("v.rev"), zero) + F.coalesce(F.col("d.drev"), zero))
            .cast(DEC)
            .alias("rev"),
        )
    )
    return merged.filter(F.col("n") != 0)


IVM_JOIN_VIEW_SCHEMA = "segment string, n bigint, rev decimal(38,10)"


def ivm_join_apply_delta(
    view: DataFrame,
    r_acc: DataFrame,
    s_acc: DataFrame,
    d_r: DataFrame,
    d_s: DataFrame,
) -> DataFrame:
    """Apply one micro-batch of inserts to BOTH sides of a maintained
    join view — q_ivm_join's bilinear rule (operators/engine.py)
    lifted to the foreachBatch sink: with R_acc/S_acc the accumulated
    sides BEFORE this batch and ΔR/ΔS the batch's new rows,

        ΔV = ΔR⋈S_acc ∪ R_acc⋈ΔS ∪ ΔR⋈ΔS

    is aggregated per segment and merged into the per-segment
    (n, rev) view — the refresh touches the delta joins only, never
    R_acc⋈S_acc. ``view`` follows IVM_JOIN_VIEW_SCHEMA with ``rev``
    UNROUNDED (round only on read); ``d_r``/``r_acc`` carry
    (custkey, price), ``d_s``/``s_acc`` carry (custkey, segment).
    Scale shape: every join in ΔV is delta-sized on at least one side
    (broadcast it); the merge is a segments-sized full-outer join."""

    def seg_rows(r: DataFrame, s: DataFrame) -> DataFrame:
        return r.join(s, "custkey").select("segment", "price")

    dv = (
        seg_rows(d_r, s_acc)
        .unionAll(seg_rows(r_acc, d_s))
        .unionAll(seg_rows(d_r, d_s))
    )
    delta = dv.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("dn"),
        F.sum(F.col("price").cast(DEC)).cast(DEC).alias("drev"),
    )
    zero = F.lit(0).cast(DEC)
    merged = (
        view.alias("v")
        .join(
            delta.alias("d"), F.col("v.segment") == F.col("d.segment"), "full_outer"
        )
        .select(
            F.coalesce(F.col("v.segment"), F.col("d.segment")).alias("segment"),
            (
                F.coalesce(F.col("v.n"), F.lit(0))
                + F.coalesce(F.col("d.dn"), F.lit(0))
            )
            .cast("bigint")
            .alias("n"),
            (F.coalesce(F.col("v.rev"), zero) + F.coalesce(F.col("d.drev"), zero))
            .cast(DEC)
            .alias("rev"),
        )
    )
    return merged.filter(F.col("n") != 0)


# ---------------------------------------------------------------------------
# Incremental corpus curation (round-6 verdict directive #5): new
# documents arriving in micro-batches are deduped against the
# already-seen corpus — the exact sha256 set plus the LSH band store
# maintained across batches in a foreachBatch sink.
# ---------------------------------------------------------------------------

CURATION_SEEN_SCHEMA = "h string, doc_id long"
CURATION_BANDS_SCHEMA = "doc_id long, band int, mh string"
CURATION_WARR_SCHEMA = "doc_id long, ws array<string>"
CURATION_ACCEPTED_SCHEMA = "doc_id long, n_tokens bigint"


def curation_apply_batch(
    new_docs: DataFrame,
    seen: DataFrame,
    bands_store: DataFrame,
    warr_store: DataFrame,
):
    """One micro-batch of the incremental curation pipeline — the
    streaming twin of q_curation_pipeline (operators/llm.py): quality
    gate → exact dedup against the accumulated sha256 ``seen`` store →
    MinHash-LSH candidates of the batch's new docs against the
    accumulated ``bands_store`` (old-vs-new AND new-vs-new; old-vs-old
    pairs were already emitted by earlier batches) → exact-Jaccard
    confirmation via the accumulated word-array store → τ-drops.

    Arrival-order contract: with batches arriving in doc_id order
    (Kafka offsets, ingest timestamps), "first seen keeps" equals the
    batch pipeline's min-doc_id rule, so the accumulated accepted set
    after N batches is hash-identical to q_curation_pipeline over the
    union (pinned by tests/test_streaming.py).

    Scale shape: every per-batch stage is batch-sized on one side —
    the sha256 anti-join and the (band, mh) probe join are new-docs ×
    store joins, never store × store; the accumulated bucket cap
    (BUCKET_CAP over store ∪ batch) keeps the probe skew-bounded
    exactly like the batch pipeline's cap. State grows by one (h,
    doc_id) row, 4 band rows and 1 word-array row per accepted-base
    doc — the per-doc fingerprint state a 100 TB incremental dedup
    service would keep in its store.

    Returns dict of batch-sized deltas: ``accepted`` (doc_id,
    n_tokens), ``seen_delta``, ``bands_delta``, ``warr_delta``,
    ``drops`` (new doc_ids rejected as near-dups). Callers append the
    deltas to their stores; drops stay IN the band/word stores (the
    batch analog also blocks on pairs whose smaller side was itself
    dropped)."""
    gated = new_docs.filter(
        F.col("lang").isin(*CURATION_LANGS)
        & F.col("n_chars").between(50, 100000)
    )
    keeper = F.min_by(F.struct("doc_id", "text"), "doc_id").alias("k")
    batch_base = (
        gated.groupBy(F.sha2("text", 256).alias("h"))
        .agg(keeper)
        .select(
            "h",
            F.col("k.doc_id").alias("doc_id"),
            F.col("k.text").alias("text"),
        )
    )
    # localCheckpoint (NOT persist): appending this batch's deltas back
    # to a store path INVALIDATES any cached plan that reads that path,
    # so a persisted anti-join would silently recompute against the
    # already-updated seen store and return empty. Truncating lineage
    # makes every returned delta independent of the store files —
    # callers can append in any order. Batch-sized, so the eager
    # checkpoint is cheap at any scale.
    new_base = track(
        batch_base.join(seen.select("h"), "h", "left_anti").localCheckpoint(eager=True)
    )
    spread = spread_scan(new_base.select("doc_id", "text"), "doc_id")
    sigs = similarity.minhash_sigs(text.shingles_from_docs(spread))
    # persisted, and filled by the eager drops checkpoint below: each
    # is read there and again by the caller's store append
    new_bands = track(similarity.minhash_bands(sigs).persist())
    new_warr = track(similarity.word_arrays(new_base).persist())

    all_bands = bands_store.unionByName(new_bands)
    wb = Window.partitionBy("band", "mh")
    capped = track(
        all_bands.withColumn("bn", F.count(F.lit(1)).over(wb))
        .filter(F.col("bn") <= similarity.BUCKET_CAP)
        .drop("bn")
        .persist()
    )
    new_ids = new_base.select("doc_id")
    capped_new = capped.join(F.broadcast(new_ids), "doc_id")
    a, b = capped.alias("a"), capped_new.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.mh") == F.col("b.mh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        .distinct()
    )
    all_warr = warr_store.unionByName(new_warr)
    # drops read the band/word store paths — checkpoint them too so the
    # returned frames survive subsequent store appends (same hazard as
    # new_base above)
    drops = track(
        similarity.jaccard_on_pairs(edges, all_warr, "src", "dst")
        .filter(F.col("jaccard") >= CURATION_TAU)
        .select(F.col("dst").alias("doc_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    accepted = new_base.join(drops, "doc_id", "left_anti").select(
        "doc_id",
        F.size(text.tokens()).cast("bigint").alias("n_tokens"),
    )
    return {
        "accepted": accepted,
        "seen_delta": new_base.select("h", "doc_id"),
        "bands_delta": new_bands,
        "warr_delta": new_warr,
        "drops": drops,
    }
