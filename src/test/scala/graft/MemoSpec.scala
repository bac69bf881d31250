package graft

import graft.ops.{DedupOps, GraphOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The persistence layer's contract ([[Memo]]): a loan persists for its
  * body only, nested and shared loans release once, a loan never evicts
  * a memoized entry, the iterative graph ops leave no cache behind on
  * either route, and no source file persists outside the layer.
  */
class MemoSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark

  /** A fresh frame whose plan is identical for equal `mod` — each test
    * uses its own modulus so no two tests share a cache entry. */
  private def grouped(mod: Int): DataFrame =
    spark.range(0, 1000).selectExpr(s"id % $mod AS k").groupBy("k").count()

  private def cachedNow(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  test("leased persists inside the body and releases after it, also when the body throws") {
    val df = grouped(7)
    assert(!cachedNow(df))
    val n = Memo.leased(df) { d =>
      assert(cachedNow(d), "not persisted inside the loan")
      d.count()
    }
    assert(n == 7)
    assert(!cachedNow(df), "persisted after the loan ended")
    intercept[IllegalStateException] {
      Memo.leased(df) { d =>
        assert(cachedNow(d))
        throw new IllegalStateException("body failed")
      }
    }
    assert(!cachedNow(df), "a failed body left its loan persisted")
    assert(Memo.leased(Option.empty[DataFrame])(_.isEmpty))
    Memo.leased(Some(df)) { d => assert(d.exists(cachedNow)) }
    assert(!cachedNow(df))
  }

  test("nested loans on plan-identical frames release only when the outer loan ends") {
    val outer = grouped(11)
    val inner = grouped(11) // built separately: same plan, one cache entry
    Memo.leased(outer) { _ =>
      Memo.leased(inner) { i => assert(cachedNow(i)) }
      assert(cachedNow(outer), "the inner loan evicted the outer loan's entry")
    }
    assert(!cachedNow(outer) && !cachedNow(inner))
  }

  test("a loan on a plan-identical frame leaves a memoized entry persisted") {
    val memoed = Memo.cached(spark, "memo-spec", "loan-vs-memo") { grouped(13) }
    try {
      Memo.leased(grouped(13)) { d => assert(d.count() == 13) }
      assert(cachedNow(memoed), "the loan evicted the session memo's entry")
    } finally Memo.invalidate(spark, "memo-spec", "loan-vs-memo")
    assert(!cachedNow(memoed))
  }

  /** Runs `op` on the driver route (default bound) and the distributed
    * route (bound 1), each from an empty cache, and returns both sorted
    * results; fails if either route leaves a persisted relation. */
  private def bothRoutes(boundKey: String)(op: => DataFrame): (Seq[String], Seq[String]) = {
    def run(route: String): Seq[String] = {
      spark.catalog.clearCache()
      val rows = op.collect().map(_.toString).toSeq.sorted
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$route route left a persisted intermediate")
      rows
    }
    val driver = run("driver")
    spark.conf.set(boundKey, "1")
    try (driver, run("distributed"))
    finally spark.conf.unset(boundKey)
  }

  test("bfs, sssp and connected components leave no persisted intermediate on either route") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 1L), (3L, 4L, 2L), (1L, 3L, 9L),
      (2L, 7L, 4L), (5L, 6L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    val (bfsDriver, bfsDist) = bothRoutes(GraphOps.DriverGraphMaxEdgesKey) {
      GraphOps.bfs(edges, seeds, maxHops = 3)
    }
    assert(bfsDriver == bfsDist && bfsDriver.size == 5, s"bfs: $bfsDriver vs $bfsDist")
    val (ssspDriver, ssspDist) = bothRoutes(GraphOps.DriverGraphMaxEdgesKey) {
      GraphOps.sssp(edges, seeds, rounds = 3)
    }
    assert(ssspDriver == ssspDist && ssspDriver.contains("[3,6]"),
      s"sssp: $ssspDriver vs $ssspDist")
    val pairs = edges.select($"src".as("a"), $"dst".as("b"))
    val (ccDriver, ccDist) = bothRoutes(DedupOps.DriverCcMaxEdgesKey) {
      DedupOps.connectedComponents(pairs)
    }
    assert(ccDriver == ccDist && ccDriver.contains("[6,5]"), s"cc: $ccDriver vs $ccDist")
  }

  /** Lines allowed to persist outside [[Memo]], with the reason each
    * cannot be a loan. Keyed by (path under src/main/scala/graft, the
    * trimmed source line). */
  private val allowlist: Map[(String, String), String] = Map(
    ("ops/DedupOps.scala", "else r.unpersist(false)") ->
      ("an RDD, not a DataFrame: the CC loop drops each superseded round's " +
        "localCheckpoint blocks as soon as the next round materializes"),
    ("queries/VectorQs.scala",
      "cur.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)") ->
      ("kcenterQuery's two-round window: round k+1 is built on round k, so " +
        "a scoped loan per round would nest and keep every round resident"),
    ("queries/VectorQs.scala", "if (prev != null) prev.unpersist()") ->
      "the release side of kcenterQuery's two-round window (see above)")

  /** Files whose ops return a lazy plan that reads their own persisted
    * intermediate, so the entry must outlive the op (see [[Memo]]). */
  private val opEntryFiles = Set("Core.scala", "ops/GraphOps.scala",
    "ops/FunnelOps.scala", "queries/MultimodalQs.scala")

  test("no source persists outside Memo except the allowlisted lines") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(root), s"sources not found at ${root.toAbsolutePath}")
    val files = {
      val w = java.nio.file.Files.walk(root)
      try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally w.close()
    }
    val raw = """\.persist\(|\.cache\(\)|\.unpersist\(|\bLease\b""".r
    val hits = for {
      f <- files
      rel = root.relativize(f).toString
      (line, no) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !(code.startsWith("*") || code.startsWith("/*") || code.startsWith("//"))
      hit <- raw.findFirstIn(code).filter(_ => rel != "Core.scala") ++
        Some("ensurePersisted(").filter(p => code.contains(p) && !opEntryFiles(rel))
    } yield ((rel, code), s"$rel:${no + 1}: `$hit` in: $code")
    val violations = hits.filterNot(h => allowlist.contains(h._1)).map(_._2)
    assert(violations.isEmpty,
      "persist outside graft.Memo (use Memo.leased / Memo.cached):\n" +
        violations.mkString("\n"))
    val stale = allowlist.keySet -- hits.map(_._1)
    assert(stale.isEmpty, s"allowlist entries that match no source line: $stale")
  }
}
