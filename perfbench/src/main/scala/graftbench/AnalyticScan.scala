package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** analytic_scan: the headline queries, one at a time, for repeated
  * passes over a seed-permuted copy of the analytic tables. The untimed
  * warm-up pass writes every result for the DuckDB oracle check; timed
  * passes collect results and must match the checked ones.
  */
object AnalyticScan {

  private val WarmThreads = 4

  /** Order-independent fingerprint of a result: row count and the sum of row hashes. */
  private def fingerprint(rows: Array[Row]): (Long, Long) =
    (rows.length.toLong, rows.iterator.map(_.hashCode.toLong).sum)

  def run(spark: SparkSession, work: String, out: Result): Unit = {
    val data = new File(work, "inputs/analytic").getAbsolutePath
    val outDir = new File(work, "out")
    val queries = SparkEntry.headlineQueries
    val oracle = SparkEntry.oracleSql
    val reference = mutable.Map.empty[String, (Long, Long)]
    val errors = mutable.Map.empty[String, String]
    val mismatches = mutable.Map.empty[String, Int].withDefaultValue(0)

    // warm-up pass, queries run concurrently: JIT and codegen warmth, plus
    // the outputs the oracle check reads
    val pool = java.util.concurrent.Executors.newFixedThreadPool(WarmThreads)
    try {
      queries.map { q =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = try {
            val dst = new File(outDir, q.name).getAbsolutePath
            q.fn(spark, data).write.mode("overwrite").parquet(dst)
            val fp = fingerprint(spark.read.parquet(dst).collect())
            reference.synchronized(reference(q.name) = fp)
          } catch {
            case scala.util.control.NonFatal(e) => errors.synchronized(errors(q.name) = Errors.describe(e))
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()

    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    // the timed region: a fixed pass count, sized by gen.py from --seconds
    val meta = Json.parse(scala.io.Source.fromFile(new File(work, "inputs/meta.json")).mkString)
    val nPasses = meta.asInstanceOf[Map[String, Any]]("passes").asInstanceOf[Number].intValue
    Region.begin(out)
    var passes = 0
    while (passes < nPasses) {
      queries.foreach { q =>
        if (!errors.contains(q.name)) {
          try {
            val (rows, ms) = Main.timed(Trace.span("queries", q.name) {
              val df = q.fn(spark, data)
              Trace.span("sql", "plan")(df.queryExecution.executedPlan)
              Trace.span("sql", "exec")(df.collect())
            })
            samples += Map("name" -> q.name, "pass" -> passes, "ms" -> ms)
            Region.untimed(if (!reference.get(q.name).contains(fingerprint(rows))) mismatches(q.name) += 1)
          } catch {
            case scala.util.control.NonFatal(e) => errors(q.name) = Errors.describe(e)
          }
        }
      }
      passes += 1
    }
    Region.end(out)
    out("units") = samples.size
    out("passes") = passes
    out("samples") = samples.toList
    out("queries") = queries.map { q =>
      Map("name" -> q.name, "oracle" -> oracle.get(q.name), "repeat_mismatches" -> mismatches(q.name)) ++
        errors.get(q.name).map(e => Map("error" -> e)).getOrElse(Map.empty)
    }
  }
}
