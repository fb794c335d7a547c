package perfbench

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** `SparkEntry` queries over the generated tables, in declaration order,
  * each timed through the noop sink, then one batch (ingest and
  * compaction) and one `topK` probe of a posting-only [[Store]] over the
  * corpus in `in/store`. The untimed warm-up writes every query result to
  * parquet for the DuckDB oracle that `run.py` runs afterwards; the store
  * checks run after the timed loop. */
final class QuerySuite(spark: SparkSession, h: Harness, in: String,
    work: String, expect: Map[String, String]) extends Workload {

  private val wanted = expect("queries").split(',').toSeq
  private val store = new Store(spark, h, s"$in/store", work, expect,
    sketches = false)
  private var obs = Map.empty[String, Any]
  override def observed: Map[String, Any] = obs
  private val defs = {
    val all = SparkEntry.orderedQueries.toMap
    val missing = wanted.filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    SparkEntry.orderedQueries.filter(q => wanted.contains(q._1))
  }

  // q* are the relational/extended queries, p* the pipeline ones
  private def layer(name: String) =
    if (name.startsWith("q")) "queries.relational" else "queries.pipeline"

  def run(seconds: Double): Map[String, Any] = {
    val oracle = SparkEntry.oracleSql.filter(q => wanted.contains(q._1))
    Files.write(Paths.get(s"$work/oracle_sql.json"),
      Main.json.writeValueAsBytes(oracle))
    // set-up: open and count every input table, checking the sizes
    // (repeated), then build the store group once
    val prepare = (1 to 3).map { _ =>
      Harness.timed(Tables.names.foreach { t =>
        val n = Tables.df(spark, in, t).count()
        Harness.check(n.toString == expect(s"rows.$t"), s"$t has $n rows")
      })._1
    }
    val (storeBuild, _) = Harness.timed(store.build())
    def storeOps(): Unit = {
      h.op("batch")(store.batch(compact = true))
      h.op("probe")(store.probe())
    }
    // warm-up: every query once, writing its result, and the first batch
    val (warm, _) = Harness.timed {
      defs.foreach { case (n, f) =>
        h.op(s"check:$n")(
          f(spark, in).write.mode("overwrite").parquet(s"$work/out/$n"))
        spark.catalog.clearCache()
      }
      storeOps()
    }
    h.loop(seconds, () => store.left > 0) { _ =>
      defs.foreach { case (n, f) =>
        h.op(n) {
          val df = h.span(s"${layer(n)}.build")(f(spark, in))
          h.span(s"${layer(n)}.execute")(Main.noop(df))
        }
        // operators persist shared intermediates; a warm cache would time
        // memory reads on the next pass
        spark.catalog.clearCache()
      }
      storeOps()
    }
    obs = store.finish()
    Map("prepare_s" -> prepare, "store_build_s" -> storeBuild,
      "warmup_s" -> warm, "ops_per_pass" -> (defs.size + 2))
  }
}
