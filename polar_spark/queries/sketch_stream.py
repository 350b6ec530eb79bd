"""Driver-checkable law queries for the CONTINUOUSLY-MAINTAINED sketches
(streaming/sketches.py) — VERDICT r4 ask #5.

Both sketches are linear/mergeable, so the law under test is exact:
an epoch-partitioned store maintained incrementally (three batches
applied through the foreachBatch sink machinery, replay-idempotent)
must answer queries BIT-IDENTICALLY to the one-shot batch sketch over
the full table — and the one-shot sketch already has an exact DuckDB
form (deterministic md5 hashing), so the streamed path inherits a full
value-hash oracle instead of the weaker rows-only check.

Reference parity: polar's consumers tail a topic and keep their own
running aggregates (reference internal/consuming, poll loop); these
sinks are the Spark-native form — per-epoch partials beside the topic,
merged at read time, no stateful streaming query to babysit.

Build-side state follows the ``semdedup_incremental`` discipline: the
store is built once per (sf_dir, Spark application) under a _DONE
sentinel, so the driver's repeated invocations reuse it and epoch 0
never re-applies against a populated store.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polar_spark.queries.registry import query
from polar_spark.sources.tables import load_table

# three batches split on a stable content key — any split obeys the
# merge law; thirds-by-id mimic time progress without ordering reqs.
# SQL strings, NOT Column objects: building F.col() at module scope
# requires a live SparkContext and would break `import polar_spark.queries`
# (and with it pytest collection / tools/gen_catalog.py) in processes that
# import before creating a session.
_SPLITS = ("event_id % 3 = 0", "event_id % 3 = 1", "event_id % 3 = 2")


def _store_root(spark: SparkSession, sf_dir: str, kind: str) -> str:
    tag = hashlib.md5(
        f"{sf_dir}:{spark.sparkContext.applicationId}:{kind}".encode()
    ).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"polar_sketch_{kind}_{tag}")


def _built_once(root: str, build) -> None:
    done = os.path.join(root, "_DONE")
    if not os.path.exists(done):
        build()
        with open(done, "w"):
            pass


@query(
    "sketch_cm_stream_vs_batch",
    oracle="""
WITH js AS (SELECT unnest(range(0, 4)) AS cm_row),
occ AS (
  SELECT cm_row,
    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, 16),
      i -> CAST(strpos('0123456789abcdef',
                       substr(md5(cm_row::VARCHAR || ':' || event_type), i, 1)) - 1 AS BIGINT))),
      (acc, d) -> (acc * 16 + d) % 64) AS cm_bucket
  FROM events CROSS JOIN js
), counters AS (
  SELECT cm_row, cm_bucket, COUNT(*) AS cnt FROM occ GROUP BY cm_row, cm_bucket
), keys AS (SELECT DISTINCT event_type FROM events),
kb AS (
  SELECT event_type, cm_row,
    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, 16),
      i -> CAST(strpos('0123456789abcdef',
                       substr(md5(cm_row::VARCHAR || ':' || event_type), i, 1)) - 1 AS BIGINT))),
      (acc, d) -> (acc * 16 + d) % 64) AS cm_bucket
  FROM keys CROSS JOIN js
)
SELECT kb.event_type, MIN(c.cnt) AS est_count
FROM kb JOIN counters c USING (cm_row, cm_bucket)
GROUP BY kb.event_type
""",
)
def sketch_cm_stream_vs_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min maintained ACROSS three ingest epochs (StreamingCountMin
    epoch store, counter addition at read) answers heavy-hitter point
    queries identically to the one-shot batch sketch — whose exact
    DuckDB form is the oracle. Counter linearity makes the equality
    exact, not approximate; the md5 buckets make it value-checkable.

    Scale: each epoch's partial is O(rows·width) after map-side
    combine, independent of batch size; the read merges O(epochs ·
    rows·width) stored rows — never the raw stream."""
    from polar_spark.streaming.sketches import StreamingCountMin

    ev = load_table(spark, sf_dir, "events")
    root = _store_root(spark, sf_dir, "cm")
    sink = StreamingCountMin(spark, os.path.join(root, "store"), "event_type")

    def build() -> None:
        for epoch, cond in enumerate(_SPLITS):
            sink.apply_batch(ev.filter(cond), epoch, root)

    _built_once(root, build)
    keys = ev.select("event_type").distinct()
    return sink.estimate(keys, "event_type")


@query(
    "sketch_kmv_stream_vs_batch",
    oracle="""
WITH h AS (
  SELECT DISTINCT event_type,
    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, 16),
      i -> CAST(strpos('0123456789abcdef', substr(md5(user_id::VARCHAR), i, 1)) - 1 AS BIGINT))),
      (acc, d) -> acc * 16 + d) AS hv
  FROM events
), mins AS (
  SELECT event_type, hv,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
  FROM h
), agg AS (
  SELECT event_type, COUNT(*) AS n_kept, MAX(hv) AS h_k
  FROM mins WHERE rn <= 64 GROUP BY event_type
)
SELECT event_type, CAST(n_kept AS BIGINT) AS n_kept,
  CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
       ELSE 63.0 / (h_k / 1152921504606846976.0) END AS est_distinct
FROM agg
""",
)
def sketch_kmv_stream_vs_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type KMV distinct-user sketch maintained across three
    ingest epochs (StreamingKMV epoch store): each epoch keeps its ≤ k
    smallest distinct hashes, the live estimate re-selects k smallest
    over the union — the k-smallest-of-union law makes the streamed
    estimate bit-identical to the one-shot sketch, which is the DuckDB
    oracle here.

    Scale: per-epoch partial is O(groups · k); reads merge
    O(epochs · groups · k) stored rows."""
    from polar_spark.streaming.sketches import StreamingKMV

    ev = load_table(spark, sf_dir, "events")
    root = _store_root(spark, sf_dir, "kmv")
    sink = StreamingKMV(
        spark, os.path.join(root, "store"), ["event_type"], "user_id", k=64
    )

    def build() -> None:
        for epoch, cond in enumerate(_SPLITS):
            sink.apply_batch(ev.filter(cond), epoch, root)

    _built_once(root, build)
    return sink.estimate()


def _hll_law_oracle() -> str:
    from polar_spark.functions.sketches import hll_oracle_sql

    return hll_oracle_sql()


@query("sketch_hll_stream_vs_batch", oracle=_hll_law_oracle())
def sketch_hll_stream_vs_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL registers maintained ACROSS four ingest epochs — three
    disjoint thirds plus a fourth epoch that REPLAYS the first third —
    answer identically to the one-shot batch sketch. Register-wise max
    is associative, commutative and IDEMPOTENT, so the deliberately
    overlapping epoch cannot move any register: this is the law that
    makes HLL the distinct-count sketch for at-least-once delivery
    (KMV and count-min merge correctly only over disjoint partials).
    The batch sketch's exact-integer DuckDB form is the oracle.

    Scale: each epoch's partial is O(groups · m) after map-side
    combine; reads merge O(epochs · groups · m) stored rows — never the
    raw stream."""
    from polar_spark.streaming.sketches import StreamingHLL

    ev = load_table(spark, sf_dir, "events")
    root = _store_root(spark, sf_dir, "hll")
    sink = StreamingHLL(
        spark, os.path.join(root, "store"), ["event_type"], "user_id"
    )

    def build() -> None:
        for epoch, cond in enumerate(_SPLITS + (_SPLITS[0],)):
            sink.apply_batch(ev.filter(cond), epoch, root)

    _built_once(root, build)
    return sink.estimate()


@query(
    "sketch_kmv_compacted",
    oracle="""
WITH h AS (
  SELECT DISTINCT event_type,
    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, 16),
      i -> CAST(strpos('0123456789abcdef', substr(md5(user_id::VARCHAR), i, 1)) - 1 AS BIGINT))),
      (acc, d) -> acc * 16 + d) AS hv
  FROM events
), mins AS (
  SELECT event_type, hv,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
  FROM h
), agg AS (
  SELECT event_type, COUNT(*) AS n_kept, MAX(hv) AS h_k
  FROM mins WHERE rn <= 64 GROUP BY event_type
)
SELECT event_type, CAST(n_kept AS BIGINT) AS n_kept,
  CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
       ELSE 63.0 / (h_k / 1152921504606846976.0) END AS est_distinct
FROM agg
""",
)
def sketch_kmv_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMV epoch store COMPACTED mid-lineage (r10: the epoch-store
    roll-up, streaming/sketches._EpochPartialSink.compact): two epochs
    land, compact() folds them into one ``ep=base`` partition under the
    k-smallest-of-union law, a third epoch lands AFTER the fold, and
    the estimate must still be bit-identical to the one-shot batch
    sketch — the same DuckDB oracle as the uncompacted law query. This
    is the longevity path: without the fold, merge-read cost grows with
    stream AGE (one partition per trigger forever); with it, reads
    touch O(1 + epochs-since-compact) partitions (reference analog:
    segment roll + offset compaction,
    internal/data/segment_writer.go:172-246).

    Scale: the fold is one O(groups · k · epochs)-row job over sketch
    state — never the raw stream."""
    from polar_spark.streaming.sketches import StreamingKMV

    ev = load_table(spark, sf_dir, "events")
    root = _store_root(spark, sf_dir, "kmvc")
    sink = StreamingKMV(
        spark, os.path.join(root, "store"), ["event_type"], "user_id", k=64
    )

    def build() -> None:
        for epoch, cond in enumerate(_SPLITS[:2]):
            sink.apply_batch(ev.filter(cond), epoch, root)
        folded, live = sink.compact()
        if (folded, live) != (2, 1):
            raise RuntimeError(
                f"KMV compaction folded {folded} partitions leaving "
                f"{live} live; expected 2 and 1"
            )
        sink.apply_batch(ev.filter(_SPLITS[2]), 2, root)

    _built_once(root, build)
    return sink.estimate()


@query("sketch_hll_compacted", oracle=_hll_law_oracle())
def sketch_hll_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL register store COMPACTED mid-lineage, with a REPLAYED
    overlapping epoch landing after the fold: register-wise max is
    idempotent, so neither the fold (max over partials ≡ max over the
    fold) nor the post-compact overlap can move any register — the
    batch sketch's exact-integer DuckDB form stays the oracle. Together
    with sketch_kmv_compacted this pins both merge-law shapes the
    roll-up must preserve (k-selection and idempotent max; the additive
    shape is pinned by the compaction pytest family).

    Scale: the fold is one O(groups · m · epochs)-row job over register
    state — never the raw stream."""
    from polar_spark.streaming.sketches import StreamingHLL

    ev = load_table(spark, sf_dir, "events")
    root = _store_root(spark, sf_dir, "hllc")
    sink = StreamingHLL(
        spark, os.path.join(root, "store"), ["event_type"], "user_id"
    )

    def build() -> None:
        for epoch, cond in enumerate(_SPLITS):
            sink.apply_batch(ev.filter(cond), epoch, root)
        folded, live = sink.compact()
        if (folded, live) != (3, 1):
            raise RuntimeError(
                f"HLL compaction folded {folded} partitions leaving "
                f"{live} live; expected 3 and 1"
            )
        # at-least-once replay AFTER the fold: overlaps are a no-op
        sink.apply_batch(ev.filter(_SPLITS[0]), 3, root)

    _built_once(root, build)
    return sink.estimate()


def _lm_law_oracle() -> str:
    from polar_spark.functions.lm import lm_score_oracle_sql

    return lm_score_oracle_sql("doc_id % 10 < 8", "big.doc_id % 10 >= 8")


@query("lm_stream_vs_batch", oracle=_lm_law_oracle())
def lm_stream_vs_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet-style bigram LM trained ACROSS three ingest epochs
    (StreamingBigramLM epoch store: per-batch vocabulary²-bounded count
    partials, summed at read) scores the held-out split BIT-identically
    to the one-shot-trained `lm_bigram_nll_score` — count additivity
    makes the equality exact, so the streamed path inherits the batch
    query's full value-hash DuckDB oracle.

    Scale: each epoch's partial is O(vocab²) after map-side combine,
    independent of batch size; scoring merges O(epochs · vocab²) stored
    rows — never the raw stream."""
    from polar_spark.functions.lm import score_bigram_nll
    from polar_spark.streaming.lm import StreamingBigramLM

    d = load_table(spark, sf_dir, "documents")
    train = d.filter("doc_id % 10 < 8")
    root = _store_root(spark, sf_dir, "lm")
    sink = StreamingBigramLM(spark, os.path.join(root, "store"))

    def build() -> None:
        for epoch, cond in enumerate(("doc_id % 3 = 0", "doc_id % 3 = 1", "doc_id % 3 = 2")):
            sink.apply_batch(train.filter(cond), epoch, root)

    _built_once(root, build)
    from polar_spark.sources.tables import parallelize_small_scan

    holdout = parallelize_small_scan(d.filter("doc_id % 10 >= 8"))
    from polar_spark.plans.cache import persist_slot

    lm = persist_slot(sink.counts(), "lm_stream_vs_batch.lm", eager=True)
    return score_bigram_nll(holdout, lm)


# shared DuckDB form of the bottom-k quantile sketch over events by
# event_type (k = 256, nearest-rank p50/p90/p99 with integer-exact rank
# arithmetic) — the batch query and the stream-vs-batch law both compare
# against it (the merge law makes the streamed sample bit-identical)
_QS_ORACLE = """
WITH h AS (
  SELECT event_type,
    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, 16),
      i -> CAST(strpos('0123456789abcdef', substr(md5(event_id::VARCHAR), i, 1)) - 1 AS BIGINT))),
      (acc, d) -> acc * 16 + d) AS hv,
    CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL
), sel AS (
  SELECT event_type, hv, v,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv, v) AS rn
  FROM h
), samp AS (
  SELECT event_type, hv, v,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v, hv) AS vr,
    COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM sel WHERE rn <= 256
)
SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_sample,
  MAX(CASE WHEN vr = (50 * n + 99) // 100 THEN v END) AS p50,
  MAX(CASE WHEN vr = (90 * n + 99) // 100 THEN v END) AS p90,
  MAX(CASE WHEN vr = (99 * n + 99) // 100 THEN v END) AS p99
FROM samp GROUP BY event_type
"""


@query("sketch_quantiles_by_type", oracle=_QS_ORACLE)
def sketch_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k quantile sketch (functions/sketches.py): per event_type,
    a deterministic 256-row uniform sample (the rows with the smallest
    md5(event_id) hashes) and nearest-rank p50/p90/p99 of `value` read
    from it. The third mergeable sketch beside KMV (distinct) and
    count-min (frequency) — the monitoring read a consumer would run
    continuously over a topic ("what does the value distribution look
    like right now") without ever sorting the raw stream.

    Scale: the persisted state is O(groups · k) regardless of corpus
    size; at 100 TB the sample builds per segment/epoch and merges by
    the k-smallest-of-union law (`sketch_qs_stream_vs_batch` proves the
    equality); estimates are windows over ≤ k-row groups."""
    from polar_spark.functions.sketches import qs_partial, qs_quantiles

    ev = load_table(spark, sf_dir, "events")
    return qs_quantiles(
        qs_partial(ev, ["event_type"], "event_id", "value", k=256),
        ["event_type"],
    )


@query("sketch_qs_stream_vs_batch", oracle=_QS_ORACLE)
def sketch_qs_stream_vs_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type bottom-k quantile sample maintained across three
    ingest epochs (StreamingQuantile epoch store): each epoch keeps its
    ≤ k smallest-id-hash rows, the live read re-selects the bottom-k
    over the union — the k-smallest-of-union law makes the streamed
    sample (hence every nearest-rank quantile) bit-identical to the
    one-shot sketch, which is the DuckDB oracle here.

    Scale: per-epoch partial is O(groups · k); reads merge
    O(epochs · groups · k) stored rows — never the raw stream."""
    from polar_spark.streaming.sketches import StreamingQuantile

    ev = load_table(spark, sf_dir, "events")
    root = _store_root(spark, sf_dir, "qs")
    sink = StreamingQuantile(
        spark, os.path.join(root, "store"), ["event_type"], "event_id", "value", k=256
    )

    def build() -> None:
        for epoch, cond in enumerate(_SPLITS):
            sink.apply_batch(ev.filter(cond), epoch, root)

    _built_once(root, build)
    return sink.estimate()


def _dsir_batch_oracle() -> str:
    from polar_spark.functions.dsir import dsir_oracle_ctes

    return f"""
WITH {dsir_oracle_ctes()}
SELECT doc_id, lang, n_grams, logw_nano
FROM scored
"""


@query("dsir_stream_vs_batch", oracle=_dsir_batch_oracle())
def dsir_stream_vs_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR hashed-ngram importance model built ACROSS three ingest
    epochs (StreamingDSIR epoch store: per-batch m-bounded bucket-count
    partials, summed at read) scores the full corpus BIT-identically to
    the one-shot `dsir_importance_scores` — count additivity makes the
    equality exact, so the streamed path inherits the batch query's
    full value-hash DuckDB oracle.

    Scale: each epoch's partial is O(m)=4096 rows after map-side
    combine, independent of batch size; scoring merges O(epochs · m)
    stored rows and then runs the batch scoring plan — never re-scans
    ingest history."""
    from polar_spark.streaming.dsir import StreamingDSIR

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    root = _store_root(spark, sf_dir, "dsir")
    sink = StreamingDSIR(
        spark, os.path.join(root, "store"), target="lang = 'en'", m=4096
    )

    def build() -> None:
        for epoch, cond in enumerate(
            ("doc_id % 3 = 0", "doc_id % 3 = 1", "doc_id % 3 = 2")
        ):
            sink.apply_batch(docs.filter(cond), epoch, root)

    _built_once(root, build)
    return sink.score(docs).select("doc_id", "lang", "n_grams", "logw_nano")


from polar_spark.queries.text import BM25_ORACLE as _BM25_ORACLE


@query("bm25_stream_vs_batch", oracle=_BM25_ORACLE)
def bm25_stream_vs_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from CONTINUOUSLY-maintained corpus statistics
    (StreamingCorpusStats epoch store: per-batch vocabulary-bounded
    df/N/token partials, summed at read) must rank identically to the
    one-shot `bm25_topk_docs` — df/doc/token counts are additive over
    disjoint document batches, so the merged stats table is
    BIT-identical to the batch build and the scores (shared fixed-order
    expression, functions/retrieval.bm25_term_score) follow. The
    oracle is the batch query's own SQL (queries/text.py BM25_ORACLE).

    Scale: each epoch's partial is O(vocab) after map-side combine,
    independent of batch size; serving merges O(epochs · vocab) stored
    rows plus the query's term-filtered posting trickle — never the
    raw stream."""
    from polar_spark.functions.retrieval import bm25_topk_from_stats
    from polar_spark.plans.cache import persist_slot
    from polar_spark.queries.text import BM25_TERMS
    from polar_spark.sources.tables import parallelize_small_scan
    from polar_spark.streaming.retrieval import StreamingCorpusStats

    d = load_table(spark, sf_dir, "documents")
    root = _store_root(spark, sf_dir, "bm25")
    sink = StreamingCorpusStats(spark, os.path.join(root, "store"))

    def build() -> None:
        for epoch, cond in enumerate(
            ("doc_id % 3 = 0", "doc_id % 3 = 1", "doc_id % 3 = 2")
        ):
            sink.apply_batch(d.filter(cond), epoch, root)

    _built_once(root, build)
    stats = persist_slot(sink.stats(), "bm25_stream_vs_batch.stats", eager=True)
    return bm25_topk_from_stats(
        parallelize_small_scan(d), stats, BM25_TERMS, k=10
    )


def _drift_law_oracle() -> str:
    from polar_spark.queries.quality import _psi_oracle

    return _psi_oracle()


@query("drift_psi_stream_vs_batch", oracle=_drift_law_oracle())
def drift_psi_stream_vs_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PSI drift monitor maintained ACROSS three ingest epochs
    (StreamingDrift epoch store: O(|buckets|) additive count partials
    per batch, summed at read) reports BIT-identically to the one-shot
    `drift_psi_length_buckets` — count additivity makes the equality
    exact, so the streamed path inherits the batch query's full
    value-hash oracle (the ln_nano PSI terms are pure functions of the
    merged counts).

    Scale: each epoch's partial is O(|buckets|) after map-side combine,
    independent of batch size; the live PSI reads O(epochs · buckets)
    stored rows — the drift dashboard never re-scans corpus history."""
    from polar_spark.streaming.drift import StreamingDrift

    d = load_table(spark, sf_dir, "documents")
    root = _store_root(spark, sf_dir, "drift")
    sink = StreamingDrift(spark, os.path.join(root, "store"))

    def build() -> None:
        for epoch, cond in enumerate(
            ("doc_id % 3 = 0", "doc_id % 3 = 1", "doc_id % 3 = 2")
        ):
            sink.apply_batch(d.filter(cond), epoch, root)

    _built_once(root, build)
    return sink.psi()
