package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{CacheScope, Pipeline}
import graft.Pipeline.LayerPaths

/** Files a Pipeline step added (count, bytes) and bytes of files it
  * removed, summed over the traced cycles.
  */
final class StepIo(var written: Long = 0, var files: Long = 0, var rewritten: Long = 0)

/** `medallion_merge`: the lineitem feed split by the seed into an
  * initial load of about half the (l_orderkey, l_linenumber) keys, then
  * `updates` incremental batches, each with new keys plus updated copies
  * of about 5% of the keys already loaded (so MERGE replaces rows) and a
  * few new-key rows that fail DQ (so quarantine runs), then one no-op
  * re-run with an empty feed. One op = `Pipeline.runBronze`, `runSilver`,
  * `runGold` on one batch; one pass = one cycle over fresh table
  * directories.
  */
final class MedallionWorkload(ctx: Ctx, dataDir: String, updates: Int, perturb: Boolean) {
  import ctx.{probe, spark}

  private val inputs = s"${ctx.work}/inputs"
  private val keys = Seq("l_orderkey", "l_linenumber")
  private def asOf(b: Int) = s"${java.time.LocalDate.of(2024, 1, 1).plusDays(b)} 00:00:00"
  private def batchDir(b: Int) = s"$inputs/batch-$b"
  private def opName(b: Int) = if (b == 0) "initial" else if (b <= updates) s"batch-$b" else "noop"

  /** Tables hashed by the correctness checks. */
  private def hashed(p: LayerPaths) = Seq("silver" -> p.silver, "fact" -> p.fact, "rollup" -> p.rollup)

  /** Tables reported by `sources.{table}.*`. */
  def tables(p: LayerPaths): Seq[(String, String)] = Seq(
    "bronze" -> p.bronze, "silver" -> p.silver, "quarantine" -> p.quarantine,
    "watermarks" -> p.watermarks, "dim_member" -> p.dimMember,
    "dim_provider" -> p.dimProvider, "dim_date" -> p.dimDate, "fact" -> p.fact,
    "rollup" -> p.rollup)

  var inputBytes = 0L
  var inputRows: Seq[Long] = Nil
  val cycleHashes = collection.mutable.ArrayBuffer.empty[Map[String, String]]

  private def u(salt: Int): Column =
    pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(ctx.seed), lit(salt)),
      lit(1000000007L)).cast("double") / lit(1000000007.0)

  /** Split the generated lineitem table into the batch inputs. */
  def generate(): Unit = {
    val li = spark.read.parquet(s"$dataDir/lineitem.parquet")
    val kh = u(1)
    val tagged = li.withColumn("b",
      when(kh < 0.5, lit(0)).otherwise(
        least(lit(updates), (floor((kh - 0.5) / 0.5 * updates) + 1).cast("int"))))
    def batch(b: Int): DataFrame = {
      val fresh = tagged.filter(col("b") === b).drop("b")
      if (b == 0) fresh
      else {
        val changed = tagged.filter(col("b") < b && u(100 + b) < 0.05).drop("b")
          .withColumn("l_quantity", pmod(col("l_quantity"), lit(50.0)) + 1.0)
          .withColumn("l_extendedprice", round(col("l_extendedprice") * 1.01, 2))
          .withColumn("l_discount", pmod(round(col("l_discount") * 100) + 1, lit(11.0)) / 100.0)
        val bad = fresh.filter(u(200 + b) < 0.005)
          .withColumn("l_orderkey", -col("l_orderkey") - 1)
          .withColumn("l_returnflag", lit("X"))
        fresh.unionByName(changed).unionByName(bad)
      }
    }
    Parallel.run(updates + 1)((0 to updates).map { b =>
      () => batch(b).write.mode("overwrite").parquet(batchDir(b))
    })
    inputBytes = (0 to updates).map(b => TableFiles.bytes(batchDir(b))).sum
    inputRows = (0 to updates).map(b => spark.read.parquet(batchDir(b)).count())
  }

  /** Batch `b`'s feed; past the last update it is the no-op re-run's
    * empty feed.
    */
  private def feed(b: Int): DataFrame = {
    val df = spark.read.parquet(batchDir(math.min(b, updates)))
    if (b > updates) df.limit(0) else df
  }

  /** Per-step file accounting of the traced cycles. */
  val stepIo: Map[String, StepIo] =
    Seq("runBronze", "runSilver", "runGold").map(_ -> new StepIo).toMap
  var tracedCycles = 0
  var silverRowsOut = 0L

  private def step(name: String, op: String, root: String)(body: => Unit): Unit = {
    val before = if (probe.active) TableFiles.list(root) else Map.empty[String, Long]
    probe.span(name, op)(body)
    if (probe.active) {
      val after = TableFiles.list(root)
      val io = stepIo(name)
      val added = after.keySet -- before.keySet
      io.written += added.toSeq.map(after).sum
      io.files += added.size
      io.rewritten += (before.keySet -- after.keySet).toSeq.map(before).sum
    }
  }

  private def runBatch(paths: LayerPaths, b: Int): Unit = {
    step("runBronze", opName(b), paths.root) {
      Pipeline.runBronze(spark, feed(b), paths, s"load-$b", asOf(b))
    }
    step("runSilver", opName(b), paths.root) {
      val n = Pipeline.runSilver(spark, paths)
      if (probe.active) silverRowsOut = math.max(silverRowsOut, n)
    }
    step("runGold", opName(b), paths.root)(Pipeline.runGold(spark, paths, dataDir))
    CacheScope.drain(spark)
  }

  def hashes(p: LayerPaths): Map[String, String] =
    hashed(p).map { case (n, path) => n -> Hashing.of(spark.read.parquet(path)) }.toMap

  /** Bytes written to table directories by each op of the last cycle. */
  val opBytes = collection.mutable.ArrayBuffer.empty[Long]

  /** One timed cycle over fresh table directories. `i < 0` is the
    * untimed warm-up instead.
    */
  def pass(i: Int): Seq[OpResult] =
    if (i < 0) { warmUp(); Nil }
    else cycle(i)

  private def cycle(i: Int): Seq[OpResult] = {
    val paths = LayerPaths(s"${ctx.work}/tables/c$i")
    TableFiles.deleteTree(paths.root)
    opBytes.clear()
    var files = TableFiles.list(paths.root)
    val ops = collection.mutable.ArrayBuffer.empty[OpResult]
    var before = Map.empty[String, String]
    for (b <- 0 to updates + 1 if ops.forall(_.ok)) {
      if (b == updates + 1) before = hashes(paths)
      ops += ctx.op("batch", opName(b), i)(runBatch(paths, b))
      val now = TableFiles.list(paths.root)
      opBytes += (now.keySet -- files.keySet).toSeq.map(now).sum
      files = now
    }
    if (ops.forall(_.ok)) {
      if (perturb) spark.read.parquet(paths.silver).limit(1)
        .write.mode("append").parquet(paths.silver)
      val after = hashes(paths)
      if (after != before) ctx.fail(s"cycle $i: no-op re-run changed $before -> $after")
      cycleHashes += after
      if (probe.active) tracedCycles += 1
    }
    if (i > 0) TableFiles.deleteTree(s"${ctx.work}/tables/c${i - 1}")
    ops.toSeq
  }

  def lastPaths(lastPass: Int): LayerPaths = LayerPaths(s"${ctx.work}/tables/c$lastPass")

  /** Untimed warm-up: an initial load plus one update of the timed
    * cycle's own feed, on tables of its own, so that the first-write and
    * the MERGE plans have run once at the timed size. The JIT compilers
    * still work through the timed cycle; a whole cycle of warm-up would
    * halve their work there but cost ~15 s more per run.
    */
  private def warmUp(): Unit = {
    val paths = LayerPaths(s"${ctx.work}/tables/warm")
    for (b <- Seq(0, 1)) {
      Pipeline.runBronze(spark, feed(b), paths, s"load-$b", asOf(b))
      Pipeline.runSilver(spark, paths)
      Pipeline.runGold(spark, paths, dataDir)
    }
    CacheScope.drain(spark)
  }

  /** From-scratch recompute: every batch filtered to the rows that are
    * the latest version of their key, appended to a fresh Bronze with
    * that batch's own stamp, then one Silver and one Gold run. Every
    * timed cycle must end with its Silver, fact and rollup hashes. It
    * runs after the timed window.
    */
  def recompute(): Map[String, String] = {
    val all = (0 to updates).map(b => feed(b).withColumn("b", lit(b)))
      .reduce(_ unionByName _)
    val latest = all.withColumn("last", max(col("b")).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("b") === col("last")).drop("last")
    val paths = LayerPaths(s"${ctx.work}/tables/recompute")
    for (b <- 0 to updates)
      Pipeline.runBronze(spark, latest.filter(col("b") === b).drop("b"), paths,
        s"load-$b", asOf(b))
    Pipeline.runSilver(spark, paths)
    Pipeline.runGold(spark, paths, dataDir)
    hashes(paths)
  }
}
