package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, TimestampNTZType, TimestampType}

/** One engine query: a Spark plan builder plus (optionally) the ANSI-SQL
  * oracle the driver runs in DuckDB over the same parquet tables.
  * Oracle absent => driver records a weaker rows-only check.
  */
case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = false)

/** Readers for the driver-generated corpus (see /root/repo/TESTDATA.md).
  * One parquet file per table; at 100 TB these would be directory-partitioned
  * datasets, and everything downstream only assumes `DataFrame`, so the
  * reader is the single place that would change.
  */
object Tables {
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Session settings every entry point (Verify/Bench/tests) must share.
    * `nanosAsLong`: earlier corpus generations wrote `events.ts` as parquet
    * TIMESTAMP(NANOS), which vanilla Spark rejects; the flag reads that as
    * epoch-nanos BIGINT (it is a no-op on the current TIMESTAMP_MICROS
    * corpus) and [[events]] branches on whichever type arrives. */
  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      // Tungsten's default on-heap execution pages reach 64 MB; on a
      // local[32] JVM with G1's 4 MB regions (the ≤8 GiB-heap default)
      // every such page is a HUMONGOUS allocation of 16 contiguous
      // regions, and 32 tasks allocating them concurrently fragments the
      // old gen until small allocations OOM with gigabytes nominally
      // free (observed as a GCLocker retry storm, round 18: the SRP
      // expansion join died this way at the default heap while the same
      // job ran at 48g). 2 MB pages stay under G1's humongous threshold
      // at every heap size the harness uses; the cost is only more
      // spill-page bookkeeping on multi-GB sorts.
      .config("spark.buffer.pageSize", "2m")
      // Let AQE re-optimize INSIDE cached plans (off by default only to
      // keep a cache's output partitioning stable for consumers that
      // expect it). With it off, every memoized relation is cached at
      // exactly `spark.sql.shuffle.partitions` partitions regardless of
      // size — a vocabulary-sized count table gets 32 near-empty
      // partitions, and every downstream exchange then pays the
      // bypass-merge writer's O(maps x reducers) tiny-file creates (the
      // guide §2.2 many-small-blocks cost, measured here as the
      // q49/q116/q100/q112 inverse scaling: 32-task stages whose
      // per-task executor time was ~90% shuffle-file open/concat).
      // With AQE coalescing applied at cache-build time the cached
      // partition count derives from DATA SIZE (advisory partition
      // size), so small relations cache into few partitions and
      // corpus-sized ones keep full parallelism — the scale-adaptive
      // posture §2 asks for. Round-22 interleaved A/B (rotated variant
      // order, 9 runs each): q49 1.17→0.40, q116 0.42→0.19,
      // q100 0.50→0.29, q112 1.08→0.78; q38/q94/q105/q137/q30 within
      // noise.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // The default 0.6 unified-memory fraction lets 32 concurrent sorts
      // pin ~4.3 GB of execution pages on an 8 GiB heap — and AQE
      // materializes independent broadcast exchanges IN PARALLEL with
      // those sort stages, so the unmanaged side (broadcast builds,
      // columnar cache batches, codegen/iterator transients) needs real
      // headroom precisely when execution is capped out. 0.5 spills the
      // monster sorts ~0.8 GB earlier (disk they already use) and buys
      // the margin that kept the SRP expansion join alive at the default
      // heap (round 18); sub-GB bench queries never touch either limit.
      .config("spark.memory.fraction", "0.5")
      // Every spill READER allocates a 1 MB unmanaged read-ahead buffer;
      // a spill-heavy hash-agg merge (the SRP candidate distinct reads
      // back ~60 spill files per task × 32 tasks) holds gigabytes of
      // them — unaccounted by the memory manager, proportional to spill
      // count, and the round-18 OOM site once pages and GCLocker were
      // fixed. Off, a reader costs its ~100 KB codec buffers; the
      // sequential disk reads it prefetched are already the OS page
      // cache's job on a single node.
      .config("spark.unsafe.sorter.spill.read.ahead.enabled", "false")

  def region(s: SparkSession, d: String): DataFrame    = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = read(s, d, "lineitem")
  /** The events reader is the one place that absorbs corpus `ts` encoding
    * changes (the corpus has shipped both TIMESTAMP(NANOS) — read as
    * epoch-nanos BIGINT under [[configure]]'s `nanosAsLong` — and
    * TIMESTAMP_MICROS, which Spark reads as TIMESTAMP_NTZ). Branch on the
    * type that actually arrived and expose TWO normalized derivations every
    * downstream query consumes instead of raw `ts`:
    *   - `event_ts`: µs-precision TimestampType (session is pinned UTC, so
    *     the NTZ→TZ cast is a wall-clock no-op, and the nanos path's
    *     `div 1000` truncation lands on the identical µs value);
    *   - `ts_us`:    epoch-microseconds BIGINT, for integer-domain math
    *     (day bucketing, PageRank's total order).
    * DuckDB oracle mirror: `CAST(ts AS TIMESTAMP)` — DuckDB's own parquet
    * reader truncates TIMESTAMP(NANOS) to µs at scan and reads MICROS
    * as-is, so both encodings land on the same µs values there too. */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = read(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        // integer `div`, not `/`: epoch-nanos exceed 2^53, double division
        // would silently round the microsecond
        df.withColumn("event_ts", expr("timestamp_micros(ts div 1000)"))
          .withColumn("ts_us", expr("ts div 1000"))
      case TimestampNTZType | TimestampType =>
        val ets = col("ts").cast(TimestampType)
        df.withColumn("event_ts", ets)
          .withColumn("ts_us", unix_micros(ets))
      case other =>
        throw new IllegalArgumentException(
          s"events.ts arrived as unsupported type $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}

/** Every persisted relation in `src/main`, with its owner and where its
  * cache entry is released. CacheManager keys entries on the
  * canonicalized plan, so plan-identical frames share ONE entry; every
  * persist goes through this object (MemoSpec's source guard enforces
  * it) so that sharing never lets one owner evict another's entry.
  * MEMORY_AND_DISK throughout — spillable, never recompute-on-eviction
  * storms at scale. Three owners:
  *
  *  - '''session memo''' — [[cached]], keyed (session, data dir, tag);
  *    the memo re-persists on access after an external `clearCache`
  *    (Bench's per-query isolation) and holds the entry until
  *    [[invalidate]] or that `clearCache`;
  *  - '''op-internal session entry''' — [[ensurePersisted]], for an op
  *    whose RETURNED lazy plan reads its own intermediate, so the op
  *    cannot release it; the entry lives until the session's
  *    `clearCache` (or a caller's `unpersist`);
  *  - '''loan''' — [[leased]], scoped to one body: persisted on the
  *    first loan of a plan, unpersisted when the last loan on that plan
  *    ends (also on an exception), and never if the entry existed before
  *    the first loan.
  *
  * {{{
  * site                                          owner       released
  * DedupQs shingles / minhash / simhash bands,   memo        clearCache
  *   probe grams
  * VectorQs IVF centroids, SRP bands, PQ         memo        clearCache
  *   codebook/cells/codes, SemDeDup cells,
  *   k-center norms
  * TextQs tf-idf, n-gram, BPE and DSIR counts;   memo        clearCache
  *   q100 unigram/bigram counts
  * StatQs q97 histogram, EventQs q111 sessions,  memo        clearCache
  *   UdfQs q87 (type, user) pairs,
  *   GraphQs item transitions
  * IncrAttrTable frozen LM                       memo        invalidate on re-seed
  * GraphOps.pageRank edges + nodes,              op entry    clearCache (the returned
  *   GraphOps.triangleCounts und + oriented,                   plan reads them)
  *   FunnelOps.funnel step accumulators,
  *   MultimodalQs perceptual hashes
  * DedupOps.connectedComponents pair stream      loan        end of the op
  *   and the distributed loop's symmetric edges
  * GraphOps.bfs / sssp edge relation (probe      loan        end of the op (results
  *   and distributed loop)                                     are eager checkpoints)
  * DocStream / VecStream / MediaStream           loan        end of admitBatch
  *   batch relations
  * IncrAttrTable ingestBatch / batchPlans        loan        end of the batch body
  *   batch shingles, bands, gate flags and
  *   resident candidates
  * tools.MediaScale clusters                     loan        end of the rung
  * }}}
  *
  * Two caches sit outside this object on purpose: the CC loop's
  * superseded round blocks (an RDD, dropped per round in
  * [[graft.ops.DedupOps.connectedComponentsWithRounds]]) and
  * `VectorQs.kcenterQuery`'s two-round window (round k is released once
  * round k+1 is materialized — a scoped loan would keep every round
  * resident until the loop ends).
  */
object Memo {
  private val m =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()
  def cached(s: SparkSession, d: String, tag: String)(build: => DataFrame): DataFrame = {
    // check-then-putIfAbsent, NOT computeIfAbsent: cached relations build
    // on top of each other (bands calls the shingle memo inside its own
    // build), and a nested computeIfAbsent on one ConcurrentHashMap
    // throws "Recursive update" whenever the two keys land in the same
    // bin — an intermittent, hash-placement-dependent failure. Building
    // outside the map update makes nesting safe; a racing duplicate
    // build is benign (putIfAbsent keeps one, plans are identical, and
    // persist only ever runs on the winner).
    val k = (s, d, tag)
    var df = m.get(k)
    if (df == null) {
      df = build
      val prev = m.putIfAbsent(k, df)
      if (prev != null) df = prev
    }
    ensurePersisted(df)
  }

  /** Drop (and unpersist) one memoized entry — for relations whose
    * backing artifact was REWRITTEN in-session (e.g. a re-seeded frozen
    * LM after a crash heal): the memoized plan would otherwise keep
    * serving the dead artifact's rows for the rest of the session. */
  def invalidate(s: SparkSession, d: String, tag: String): Unit = {
    val df = m.remove((s, d, tag))
    if (df != null) df.unpersist()
  }

  /** Persist `df` only if the CacheManager has no entry for its plan yet
    * (`storageLevel` is a canonicalized-plan lookup, so a freshly built
    * but plan-identical DataFrame sees an earlier invocation's entry).
    * The unconditional-`persist` alternative works — CacheManager dedups —
    * but logs "Asked to cache already cached data" churn on every
    * re-invocation, which pollutes recorded bench output and would mask a
    * real double-cache if one ever appeared. The entry lives until
    * `unpersist`/`clearCache` on the session. */
  def ensurePersisted(df: DataFrame): DataFrame = {
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df
  }

  /** Per-plan loan state: live loan count + whether the FIRST loan found
    * the CacheManager entry absent and created it. `owned = false` means
    * a longer-lived owner ([[cached]]/[[ensurePersisted]]) persisted the
    * plan first — ending the last loan must NOT evict that entry, or
    * every later use of the memoized relation silently recomputes. */
  private final case class Loan(n: Int, owned: Boolean)
  private val loans =
    new java.util.HashMap[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Loan]()

  /** Run `body` with `df` persisted, then release it. The persist/evict
    * decision is serialized under one lock keyed on the canonicalized
    * plan — the CacheManager's own key — so two concurrent loans over
    * plan-identical frames (which share one entry) persist on the 0→1
    * transition only and unpersist on the 1→0 transition only: no
    * finisher evicts a peer mid-flight, and nested loans hold the entry
    * until the outer one ends. The loan count map never outgrows the
    * set of concurrently-leased plans (1→0 removes the key). */
  def leased[A](df: DataFrame)(body: DataFrame => A): A = {
    val k = df.queryExecution.analyzed.canonicalized
    loans.synchronized {
      loans.get(k) match {
        case null =>
          val preExisting =
            df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
          if (!preExisting) ensurePersisted(df)
          loans.put(k, Loan(1, owned = !preExisting))
        case Loan(n, owned) => loans.put(k, Loan(n + 1, owned))
      }
    }
    try body(df)
    finally loans.synchronized {
      loans.get(k) match {
        case Loan(n, owned) if n <= 1 =>
          loans.remove(k)
          if (owned) df.unpersist()
        case Loan(n, owned) => loans.put(k, Loan(n - 1, owned))
      }
    }
  }

  /** [[leased]] for an optional relation (a conf-gated side relation):
    * `body` runs with `None` and nothing is persisted when it is absent. */
  def leased[A](df: Option[DataFrame])(body: Option[DataFrame] => A): A =
    df match {
      case Some(d) => leased(d)(l => body(Some(l)))
      case None => body(None)
    }
}

/** Determinism helpers for oracle-exact numeric aggregation.
  *
  * Problem: `sum(double)` is order-dependent, and shuffle arrival order is
  * not deterministic run-to-run (nor equal to DuckDB's scan order). Fix:
  * sum an exact per-row DECIMAL image of the expression. Decimal addition is
  * associative, so ANY physical plan (partial agg, AQE coalesce, skew split)
  * produces bit-identical results, and DuckDB mirrors the same CAST chain.
  * The per-row double->decimal rounding is itself deterministic because the
  * source expressions carry <= `scale` true decimal digits, so the nearest
  * grid point is unambiguous. Final cast back to DOUBLE is exact-to-nearest.
  *
  * Precondition: inputs must be FINITE. NaN/Infinity casts to DECIMAL
  * diverge between engines (Spark ANSI errors, DuckDB errors differently,
  * legacy Spark silently NULLs); wrap sources in `nanvl`/filters first if
  * a column can produce non-finite values. The driver corpus is finite.
  */
object Det {
  /** Order-independent sum of a double expression, exact to `scale` digits. */
  def dsum(c: Column, scale: Int = 6): Column =
    sum(c.cast(DecimalType(30, scale))).cast("double")

  /** Order-independent mean: exact decimal sum divided by the NON-NULL
    * count (SQL AVG semantics — nulls are skipped by both sum and count),
    * one IEEE division — identical in any engine. */
  def davg(c: Column, scale: Int = 6): Column =
    dsum(c, scale) / count(c)

  /** SQL mirror of [[dsum]] for the DuckDB oracle. */
  def dsumSql(expr: String, scale: Int = 6): String =
    s"CAST(sum(CAST(($expr) AS DECIMAL(30,$scale))) AS DOUBLE)"

  /** SQL mirror of [[davg]] — divides by the non-null count to match. */
  def davgSql(expr: String, scale: Int = 6): String =
    s"(${dsumSql(expr, scale)} / count(($expr)))"
}
