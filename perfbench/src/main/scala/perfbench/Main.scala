package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Benchmark process: runs one workload in a closed loop and writes the
  * raw samples, spans and checks as JSON; `perfbench/run.py` launches it
  * and turns the file into metrics.
  *
  * Arguments: --workload NAME --in DIR --work DIR --out FILE --seconds S
  * --trace 0|1 --cpus N --expect FILE. `--in` holds the generated inputs;
  * `--work` is this process's own scratch space, which also holds its
  * Spark warehouse, local dir and metastore, so nothing carries over from
  * an earlier process. `--expect` holds key=value lines the workload checks
  * its outputs against. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val work = args("work")
    val expect = {
      val p = new java.util.Properties()
      val r = Files.newBufferedReader(Paths.get(args("expect")), UTF_8)
      try p.load(r) finally r.close()
      p.stringPropertyNames.toArray(Array.empty[String])
        .map(k => k -> p.getProperty(k)).toMap
    }
    val spark = session(args("cpus").toInt, work)
    val sessionReadyMs = System.currentTimeMillis()
    val h = new Harness(spark, args("trace") == "1")
    val w = Workload(args("workload"), spark, h, args("in"), work, expect)
    val setup = w.run(args("seconds").toDouble)
    val result = Map(
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_ms" -> sessionReadyMs,
      "setup" -> setup,
      "observed" -> w.observed,
      "ops" -> h.ops,
      "spans" -> h.spans.map(s => Map(
        "name" -> s.name, "op" -> s.op, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "gc_s" -> s.gcS, "jobs" -> s.work.jobs,
        "stages" -> s.work.stages, "tasks" -> s.work.tasks,
        "cpu_s" -> s.work.cpuS, "shuffle_bytes" -> s.work.shuffleBytes,
        "spill_bytes" -> s.work.spillBytes,
        "exchanges" -> s.work.exchanges,
        "reused_exchanges" -> s.work.reusedExchanges)),
      "errors" -> h.errors,
      "loop_gc_s" -> h.loopGcS,
      "loop_steal_s" -> h.loopStealS,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "parallelism" -> spark.sparkContext.defaultParallelism,
      "peak_rss_mb" -> peakRssMb())
    spark.stop()
    Files.write(Paths.get(args("out")), json.writeValueAsBytes(result))
  }

  /** Writes the result file: maps, sequences and case classes as JSON. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def session(cpus: Int, work: String): SparkSession = {
    val s = graft.Sessions.builder(s"local[$cpus]", math.max(cpus, 4))
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$work/metastore_db;create=true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** High-water resident set of this process (Linux /proc), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}

/** A workload: prepares its state, warms up, runs the timed loop, and
  * reports set-up timings (returned) plus what it observed. */
trait Workload {
  def run(seconds: Double): Map[String, Any]
  def observed: Map[String, Any] = Map.empty
}

object Workload {
  def apply(name: String, spark: SparkSession, h: Harness, in: String,
      work: String, expect: Map[String, String]): Workload = name match {
    case "catalog_ops" => new CatalogOps(spark, h, in, expect)
    case "query_suite" => new QuerySuite(spark, h, in, work, expect)
    case "store_ingest" => new StoreIngest(spark, h, in, work, expect)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
