package perfbench

import scala.util.Random

import graft.{CacheScope, SparkEntry}

/** `lakehouse_queries` and `llm_data_ops`: a fixed list of registry
  * queries run closed-loop, one at a time. One op = build the DataFrame
  * (the registry function, including any jobs it runs while building),
  * execute it to its order-insensitive result hash, then
  * `CacheScope.drain`. A pass runs every query once, in an order drawn
  * from the seed; the hash of every execution is checked against the
  * committed expected hashes.
  */
final class QueryWorkload(ctx: Ctx, val queries: Seq[String], dataDir: String,
    expected: Map[String, String], perturb: Boolean, threads: Int) {
  import ctx.{probe, spark}

  private val fns = queries.map(q => q -> SparkEntry.queries(q)).toMap
  var cachedMbPeak = 0.0

  private def runOne(q: String, pass: Int): Unit = {
    val df = probe.span("build", q)(fns(q)(spark, dataDir))
    val out = if (perturb) df.union(df.limit(1)) else df
    val h = probe.span("execute", q)(Hashing.of(out))
    if (probe.active)
      cachedMbPeak = math.max(cachedMbPeak, spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / 1048576.0)
    probe.span("drain", q)(CacheScope.drain(spark))
    expected.get(q) match {
      case None => throw new IllegalStateException(s"$q: no expected hash for this input")
      case Some(e) if e != h =>
        throw new IllegalStateException(s"$q (pass $pass): result hash $h, expected $e")
      case _ => ()
    }
  }

  /** One pass over the list; the order is a seeded shuffle per pass.
    * `pass < 0` is the untimed warm-up instead: [[firstRuns]], then one
    * serial pass like the timed ones (checked, not counted), so that the
    * JIT compilers' busiest stretch falls before the window.
    */
  def pass(i: Int): Seq[OpResult] = {
    if (i < 0) firstRuns()
    val ops = new Random(ctx.seed * 7919L + i).shuffle(queries)
      .map(q => ctx.op("query", q, i)(runOne(q, i)))
    if (i < 0) Nil else ops
  }

  /** Every query once, `threads` at a time, so that the driver-side
    * one-time work of a first execution (planning code paths,
    * generated-code compilation, which then sits in Spark's code cache)
    * overlaps across cores. Caches are drained only after all have
    * finished, so no query frees another's data. Results are checked
    * like timed ones.
    */
  private def firstRuns(): Unit = {
    val hashes = Parallel.run(threads)(queries.map(q => () => Hashing.of(fns(q)(spark, dataDir))))
    for ((q, h) <- queries.zip(hashes) if !expected.get(q).contains(h))
      ctx.fail(s"$q (warm-up): result hash $h, expected ${expected.get(q)}")
    CacheScope.drain(spark)
  }
}

object QueryWorkload {
  private def resolve(prefixes: Seq[String]): Seq[String] = prefixes.map { p =>
    SparkEntry.queries.keys.filter(_.startsWith(p + "_")).toSeq match {
      case Seq(one) => one
      case other => throw new IllegalStateException(s"query $p resolves to $other")
    }
  }

  private def range(a: Int, b: Int): Seq[String] = (a to b).map(n => f"q$n%02d")

  /** Reference-surface queries: q01–q20, q33–q41, q45, q46, q53. */
  def lakehouse: Seq[String] =
    resolve(range(1, 20) ++ range(33, 41) ++ Seq("q45", "q46", "q53"))

  /** LLM-pipeline queries: q21–q32, q42–q44, q47–q52, q54–q58. */
  def llm: Seq[String] =
    resolve(range(21, 32) ++ range(42, 44) ++ range(47, 52) ++ range(54, 58))
}
