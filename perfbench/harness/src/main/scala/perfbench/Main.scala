package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.core.`type`.TypeReference
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One JVM runs one workload closed-loop on
  * `local[nproc]` with the graft.Bench session posture (shuffle
  * partitions = min(8, cores), AQE off, UTC):
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *
  * and prints one JSON result as its last stdout line. Maintenance
  * modes: `--record FILE` writes the expected query hashes for the
  * generated tables, `--dump DIR` writes every query result plus its
  * DuckDB oracle SQL for `oracle_check.py`.
  */
object Main {
  /** Scale factors of the generated tables, per workload. */
  val QuerySf = 0.01
  val MedallionSf = 0.01
  /** Incremental batches per medallion cycle (plus initial and no-op). */
  val Updates = 2
  /** Timed passes at least, whatever `--seconds`: a query pass has 26 or
    * 32 ops, and each op's time is its median over the passes.
    */
  val QueryPasses = 2
  /** Tables are generated from a fixed seed so that the committed
    * expected hashes hold; `--seed` draws the query order per pass and
    * the medallion feed split.
    */
  val DataSeed = 42L

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def argMap(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap

  def main(args: Array[String]): Unit = {
    val a = argMap(args)
    val workload = a("workload")
    val seed = a.getOrElse("seed", "1").toLong
    val seconds = a.getOrElse("seconds", "10").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val work = Paths.get(a.getOrElse("work", ".bench_build/perfbench/work")).toAbsolutePath.toString
    val outDir = Paths.get(a.getOrElse("out", ".bench_build/perfbench/out")).toAbsolutePath.toString
    val perturb = a.get("perturb").contains("1")
    val expectedFile = a.getOrElse("expected", "perfbench/expected/query_hashes.json")
    val isQueries = Set("lakehouse_queries", "llm_data_ops")(workload)
    require(isQueries || workload == "medallion_merge", s"unknown workload $workload")
    val sf = a.get("scale").map(_.toDouble).getOrElse(if (isQueries) QuerySf else MedallionSf)

    val calibStart = Host.calibrateMs()
    Files.createDirectories(Paths.get(work))
    Files.createDirectories(Paths.get(outDir))

    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", math.min(8, cores).toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val probe = new Probe(spark, trace)
      probe.active = false
      val ctx = new Ctx(spark, probe, work, seed)
      val dataDir = a.get("dump").map(d => s"$d/tables").getOrElse(s"$work/data")
      val maintenance = a.contains("record") || a.contains("dump")
      val tables = workload match {
        case _ if maintenance => Gen.TableNames.toSet
        case "medallion_merge" => Set("customer", "supplier", "orders", "lineitem")
        case "lakehouse_queries" => Gen.TableNames.toSet -- Set("documents", "embeddings")
        case _ => Set("lineitem", "events", "documents", "embeddings")
      }
      val g0 = System.nanoTime()
      Gen.writeAll(spark, dataDir, sf, DataSeed, cores, tables)
      val genS = (System.nanoTime() - g0) / 1e9
      val expected: Map[String, String] =
        if (!isQueries || maintenance) Map.empty
        else Expected.load(expectedFile, sf)
      a.get("record").orElse(a.get("dump")) match {
        case Some(target) =>
          val mode = if (a.contains("record")) "record" else "dump"
          Maintenance.run(spark, mode, target, dataDir, sf, expectedFile)
        case None =>
          val run = new Runner(ctx, workload, seconds, trace, sessionS, genS, sf,
            dataDir, expected, perturb, calibStart, outDir, cores)
          run.go()
      }
    } finally spark.stop()
  }
}

/** The committed expected result hashes, keyed by scale factor. */
object Expected {
  def key(sf: Double): String = s"sf=$sf"

  private val shape = new TypeReference[Map[String, Map[String, String]]] {}

  def read(f: java.io.File): Map[String, Map[String, String]] =
    if (f.exists) Main.json.readValue(f, shape) else Map.empty

  def load(file: String, sf: Double): Map[String, String] =
    read(Paths.get(file).toFile).getOrElse(key(sf), throw new IllegalStateException(s"$file has no hashes for ${key(sf)}"))
}

/** Untimed maintenance modes that produce and cross-check the expected
  * hashes.
  */
object Maintenance {
  def run(spark: SparkSession, mode: String, target: String, dataDir: String, sf: Double,
      expectedFile: String): Unit = {
    val queries = QueryWorkload.lakehouse ++ QueryWorkload.llm
    val hashes = ListMap(queries.map { q =>
      val df = graft.SparkEntry.queries(q)(spark, dataDir)
      val h = Hashing.of(df)
      if (mode == "dump")
        df.write.mode("overwrite").parquet(s"$target/$q")
      graft.CacheScope.drain(spark)
      println(s"perfbench: $q $h")
      q -> h
    }: _*)
    if (mode == "record") {
      val f = Paths.get(target).toFile
      val merged = ListMap((Expected.read(f) + (Expected.key(sf) -> hashes)).toSeq.sortBy(_._1): _*)
      Main.json.writerWithDefaultPrettyPrinter().writeValue(f, merged)
    } else {
      val sql = ListMap(queries.map(q => q -> graft.SparkEntry.oracleSql(q)): _*)
      Main.json.writeValue(Paths.get(target, "oracle_sql.json").toFile, sql)
      Main.json.writeValue(Paths.get(target, "spark_hashes.json").toFile, hashes)
      val exp = Expected.read(Paths.get(expectedFile).toFile).getOrElse(Expected.key(sf), Map.empty)
      val diff = hashes.filter { case (q, h) => !exp.get(q).contains(h) }
      println(s"perfbench: dump of ${hashes.size} queries to $target; " +
        s"hashes differing from $expectedFile: ${diff.keys.mkString(",")}")
      println(s"perfbench: tables in $dataDir")
    }
  }
}
