package perfbench

import graft.Engine
import graft.catalog.CatalogSnapshot
import org.apache.spark.sql.{Row, SparkSession}

import Harness.check

/** The schemamap host-application path over one catalog snapshot: a fixed
  * mix of refresh, status, columns, master-data ranking, concept
  * definition and what-if, repeated. `refresh` rebuilds the cached schema
  * metadata overview; the other operations read it. */
final class CatalogOps(spark: SparkSession, h: Harness, in: String,
    expect: Map[String, String]) extends Workload {

  // cycled, so the concept registry stops growing after the first pass
  private val concepts = Seq(
    "bench_texty" -> "data_type = 'text'",
    "bench_wide" -> "attnum > 10",
    "bench_keyish" -> "column_name like '%_key'",
    "bench_audit" -> "column_name in ('created_at', 'updated_at')")
  private var nextConcept = 0
  private val statusKeys = expect.keys.filter(_.startsWith("status."))
    .toSeq.sorted

  private def checkStatus(rows: Array[Row]): Unit = {
    check(rows.length == 1, s"status returned ${rows.length} rows")
    statusKeys.foreach { k =>
      val got = rows(0).getAs[Long](k.stripPrefix("status."))
      check(got.toString == expect(k), s"$k = $got, expected ${expect(k)}")
    }
  }

  private var engine: Engine = _

  private def pass(): Unit = {
    h.op("refresh") {
      val snap = h.span("catalog.load")(CatalogSnapshot.fromDir(spark, in))
      h.span("smo.build")(engine.refresh(snap))
    }
    h.op("status") {
      checkStatus(h.span("status.rollup")(engine.status.collect()))
    }
    h.op("columns") {
      h.span("concepts.apply")(Main.noop(engine.columns))
    }
    h.op("mde") {
      val n = h.span("scoring.mde")(
        engine.masterDataEntityCandidates.collect().length)
      check(n.toString == expect("mde.rows"), s"mde ranked $n tables")
    }
    h.op("define_concept") {
      val (name, sql) = concepts(nextConcept % concepts.size)
      nextConcept += 1
      engine.defineConcept(name, sql) // a registry update: no Spark work
      checkStatus(h.span("status.rollup")(engine.status.collect()))
    }
    h.op("whatif") {
      // the cascade must remove exactly the dropped closure's columns
      val n = h.span("engine.whatif") {
        val sim = engine.whatIfDropTable(expect("whatif.schema"),
          expect("whatif.table"))
        try sim.status.collect().map(_.getAs[Long]("column_count")).toSeq
        finally sim.smo.unpersist()
      }
      check(n == Seq(expect("whatif.column_count").toLong),
        s"what-if left column_count $n, expected ${expect("whatif.column_count")}")
    }
  }

  def run(seconds: Double): Map[String, Any] = {
    // set-up, repeated: a fresh engine over the snapshot as loaded from
    // disk; the last one serves the loop
    val prepare = (1 to 3).map { _ =>
      val (s, e) = Harness.timed(new Engine(spark, CatalogSnapshot.fromDir(spark, in)))
      engine = e
      s
    }
    // the driver-side planning code these operations spend most of their
    // time in is still being compiled after the first pass
    val (warm, _) = Harness.timed((1 to 2).foreach(_ => pass()))
    h.loop(seconds)(_ => pass())
    Map("prepare_s" -> prepare, "warmup_s" -> warm, "ops_per_pass" -> 6)
  }
}
