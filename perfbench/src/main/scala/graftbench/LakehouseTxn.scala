package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog._
import graft.catalog.rest.{RestCatalogStore, UcRestServer}
import graft.client.LakehouseClient
import graft.io.TableIO
import graft.tables.{DeltaLogWriter, SnapshotCache, TxTable}

/** Catalog store decorator: one `catalog` span per call. */
final class TracedStore(inner: CatalogStore) extends CatalogStore {
  private def t[T](name: String)(f: => T): T = Trace.span("catalog", name)(f)
  def createCatalog(c: CatalogInfo): CatalogInfo = t("createCatalog")(inner.createCatalog(c))
  def getCatalog(name: String): CatalogInfo = t("getCatalog")(inner.getCatalog(name))
  def listCatalogs(maxResults: Option[Int], pageToken: Option[String]): (Seq[CatalogInfo], Option[String]) =
    t("listCatalogs")(inner.listCatalogs(maxResults, pageToken))
  def updateCatalog(name: String, newName: Option[String], comment: Option[String],
      properties: Option[Map[String, String]]): CatalogInfo =
    t("updateCatalog")(inner.updateCatalog(name, newName, comment, properties))
  def deleteCatalog(name: String, force: Boolean): Unit = t("deleteCatalog")(inner.deleteCatalog(name, force))
  def createSchema(s: SchemaInfo): SchemaInfo = t("createSchema")(inner.createSchema(s))
  def getSchema(catalog: String, name: String): SchemaInfo = t("getSchema")(inner.getSchema(catalog, name))
  def listSchemas(catalog: String, maxResults: Option[Int], pageToken: Option[String]): (Seq[SchemaInfo], Option[String]) =
    t("listSchemas")(inner.listSchemas(catalog, maxResults, pageToken))
  def updateSchema(catalog: String, name: String, newName: Option[String], comment: Option[String],
      properties: Option[Map[String, String]]): SchemaInfo =
    t("updateSchema")(inner.updateSchema(catalog, name, newName, comment, properties))
  def deleteSchema(catalog: String, name: String, force: Boolean): Unit =
    t("deleteSchema")(inner.deleteSchema(catalog, name, force))
  def createTable(x: TableInfo): TableInfo = t("createTable")(inner.createTable(x))
  def getTable(catalog: String, schema: String, name: String): TableInfo =
    t("getTable")(inner.getTable(catalog, schema, name))
  def listTables(catalog: String, schema: String, maxResults: Option[Int],
      pageToken: Option[String]): (Seq[TableInfo], Option[String]) =
    t("listTables")(inner.listTables(catalog, schema, maxResults, pageToken))
  def updateTable(catalog: String, schema: String, name: String, comment: Option[String],
      properties: Option[Map[String, String]]): TableInfo =
    t("updateTable")(inner.updateTable(catalog, schema, name, comment, properties))
  def deleteTable(catalog: String, schema: String, name: String): Unit =
    t("deleteTable")(inner.deleteTable(catalog, schema, name))
  def overwriteTable(x: TableInfo): TableInfo = t("overwriteTable")(inner.overwriteTable(x))
  def healthCheck(): Boolean = t("healthCheck")(inner.healthCheck())
}

/** lakehouse_txn: one closed-loop client replaying a seeded op stream over
  * 72 tables (native `_graft_log`, `_delta_log` with deletion vectors,
  * Iceberg v2) registered in a Unity-Catalog-shaped REST catalog.
  */
object LakehouseTxn {
  private val Cat = "bench"
  private val Sch = "lh"
  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("p", IntegerType),
    StructField("v", LongType), StructField("s", StringType)))

  private def name(t: Int) = s"t$t"
  private def long(x: Any): Long = x.asInstanceOf[Number].longValue

  def run(spark: SparkSession, work: String, out: Result): Unit = {
    val in = new File(work, "inputs")
    val tablesDir = new File(work, "tables")
    val catDir = new File(work, "catalog")
    catDir.mkdirs()
    val server = new UcRestServer(new JsonFileCatalogStore(new File(catDir, "catalog.json").getPath)).start()
    try {
      val store = new TracedStore(new RestCatalogStore(server.address))
      val client = new LakehouseClient(spark, store)
      client.createCatalog(Cat)
      client.createSchema(Cat, Sch)

      // ---- fixtures: every table, through the public create paths, a
      // few at a time (creation is mostly driver-side commit work) ----
      val specs = Json.lines(new File(in, "tables.jsonl"))
      val backends = specs.map(r => long(r("table")).toInt -> r("backend").toString).toMap
      val (bases, clones) = specs.partition(_.contains("rows"))
      inParallel(bases)(createTable(spark, client, tablesDir, _))
      inParallel(clones)(createTable(spark, client, tablesDir, _))
      val ops = Json.lines(new File(in, "ops.jsonl"))
      val warmOps = long(Json.parse(scala.io.Source.fromFile(new File(in, "meta.json")).mkString)
        .asInstanceOf[Map[String, Any]]("warm_ops")).toInt

      val appendVersion = mutable.Map.empty[Long, Long]
      val results = mutable.ArrayBuffer.empty[Map[String, Any]]
      def record(r: Map[String, Any]): Unit = results.synchronized(results += r)

      def runOp(op: Map[String, Any], timedRegion: Boolean): Unit = {
        val i = long(op("i"))
        Trace.currentOp = i
        val kind = op("kind").toString
        val t = long(op("table")).toInt
        val rec = Map[String, Any]("i" -> i, "kind" -> kind, "timed" -> timedRegion)
        val ok = try {
          val (res, ms) = Main.timed(Trace.span("op", kind)(exec(spark, client, store, op, kind, t, appendVersion)))
          record(rec ++ Map("ms" -> ms, "result" -> res))
          true
        } catch {
          case scala.util.control.NonFatal(e) =>
            record(rec ++ Map("ms" -> 0.0, "error" -> Errors.describe(e)))
            false
        }
        if (ok && kind == "append") Region.untimed {
          // bookkeeping: the commit version the incremental read of this
          // append will ask for
          val loc = new File(tablesDir, name(t)).getAbsolutePath
          val v = TxTable.forAnyLocation(spark, loc).history.last
          appendVersion.synchronized(appendVersion(i) = v)
        }
      }

      // ---- warm-up: the stream's first block, one op per kind on distinct
      // tables, run concurrently; untimed but checked ----
      inParallel(ops.take(warmOps))(runOp(_, timedRegion = false))

      val bytesBefore = Main.dirBytes(tablesDir)
      val replays0 = SnapshotCache.replayCount.get
      val probes0 = SnapshotCache.probeCount.get
      // the timed region: the rest of the stream, a fixed op count sized
      // by gen.py from --seconds, in whole blocks of the exact op mix
      Region.begin(out)
      ops.drop(warmOps).foreach(runOp(_, timedRegion = true))
      Region.end(out)
      Trace.currentOp = -1L
      out("ops_done") = ops.size
      out("units") = ops.size - warmOps
      out("log_replays") = SnapshotCache.replayCount.get - replays0
      out("snapshot_probes") = SnapshotCache.probeCount.get - probes0
      out("table_bytes_written") = Main.dirBytes(tablesDir) - bytesBefore
      out("ops") = results.toList
      // traced runs: per-backend snapshot resolution and scan pruning,
      // probed after the timed region on the tables the timed ops used
      if (Trace.enabled) out("trace_probes") = ops.drop(warmOps).map { op =>
        val t = long(op("table")).toInt
        traceProbes(spark, tablesDir, op, op("kind").toString, t, backends(t))
      }

      // ---- after the timed region: the checksum of every table the stream
      // touched, read through 3-part names in one statement ----
      def union(ts: Seq[Int]): DataFrame =
        spark.sql(ts.map(t => s"SELECT $t AS tid, k, v, s FROM $Cat.$Sch.${name(t)}").mkString(" UNION ALL "))
      val touched = ops.map(o => long(o("table")).toInt).distinct.sorted
      val sums = mutable.Map.empty[String, Seq[Long]]
      inParallel(touched.grouped(8).toSeq) { group =>
        val rows = union(group).groupBy(col("tid"))
          .agg(count(lit(1)), sum(col("k")), sum(col("v")), sum(crc32(col("s").cast(BinaryType))))
          .collect()
        sums.synchronized(rows.foreach { r =>
          sums(r.get(0).toString) = Seq(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
        })
      }
      out("checksums") = sums.toMap
      if (Trace.enabled) {
        // space: all table bytes against every table's live rows rewritten
        // once as compacted parquet (one file per table)
        val compact = new File(work, "compact")
        union(backends.keys.toSeq.sorted).repartition(col("tid"))
          .write.mode("overwrite").partitionBy("tid").parquet(compact.getAbsolutePath)
        out("table_bytes") = Main.dirBytes(tablesDir)
        out("compact_bytes") = Main.dirBytes(compact)
        out("live_files") = backends.keys.toSeq.map { t =>
          TxTable.forAnyLocation(spark, new File(tablesDir, name(t)).getAbsolutePath).snapshot.files.size
        }.sum
      }
    } finally server.stop()
  }

  private val Threads = 4

  /** Run `f` over `items` on a small pool (set-up and checks only, never the timed region). */
  private def inParallel[A](items: Seq[A])(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Threads)
    try items.map(a => pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = f(a) }))
      .foreach(_.get())
    finally pool.shutdown()
  }

  /** A base table is written through the backend's create path; the others
    * start as shallow clones of a base (a dev/test fork: log only, the
    * clone references the base's data files until its own writes).
    */
  private def createTable(spark: SparkSession, client: LakehouseClient, tablesDir: File,
      rec: Map[String, Any]): Unit = {
    val t = long(rec("table")).toInt
    val loc = new File(tablesDir, name(t)).getAbsolutePath
    if (rec.contains("clone_of")) {
      val base = new File(tablesDir, name(long(rec("clone_of")).toInt)).getAbsolutePath
      TxTable.forAnyLocation(spark, base).cloneTo(loc)
      val fileType = if (rec("backend") == "iceberg") FileType.ICEBERG else FileType.DELTA
      client.registerAsTable(Cat, Sch, name(t), fileType, loc)
      return
    }
    val df = rowsDF(spark, rec("rows").asInstanceOf[Seq[Seq[Any]]])
    rec("backend") match {
      case "graft" => client.createAsTable(df, Cat, Sch, name(t), FileType.DELTA, loc, Seq("p"))
      case "delta" =>
        DeltaLogWriter.create(spark, loc, df, Seq("p"), Map("delta.enableDeletionVectors" -> "true"))
        client.registerAsTable(Cat, Sch, name(t), FileType.DELTA, loc)
      case "iceberg" => client.createAsTable(df, Cat, Sch, name(t), FileType.ICEBERG, loc, Seq("p"))
    }
  }

  private def rowsDF(spark: SparkSession, rows: Seq[Seq[Any]]): DataFrame = {
    val rs = rows.map { r =>
      val k = long(r(0))
      Row(k, (k % 4).toInt, long(r(1)), r(2).toString)
    }
    spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
  }

  /** Plan (to the executed physical plan) and run one SQL statement. */
  private def sqlRows(spark: SparkSession, q: String): (Seq[Row], Boolean) = {
    val (df, scans) = Trace.span("sql", "plan") {
      val df = spark.sql(q)
      val plan = df.queryExecution.executedPlan.toString
      (df, plan.contains("FileScan") || plan.contains("Scan parquet"))
    }
    (Trace.span("sql", "exec")(df.collect().toSeq), scans)
  }

  private def exec(spark: SparkSession, client: LakehouseClient, store: CatalogStore,
      op: Map[String, Any], kind: String, t: Int, appendVersion: mutable.Map[Long, Long]): Any = {
    val fq = s"$Cat.$Sch.${name(t)}"
    def p = long(op("p"))
    kind match {
      case "point" =>
        sqlRows(spark, s"SELECT k, v, s FROM $fq WHERE k = ${long(op("k"))}")._1
          .map(r => Seq(r.getLong(0), r.getLong(1), r.getString(2)))
      case "read_table" =>
        val info = store.getTable(Cat, Sch, name(t))
        val df = Trace.span("io", "read")(TableIO.read(spark, info))
        Trace.span("sql", "exec")(df.filter(col("k") === long(op("k"))).select("k", "v", "s").collect().toSeq)
          .map(r => Seq(r.getLong(0), r.getLong(1), r.getString(2)))
      case "meta_agg" =>
        val (rows, scans) = sqlRows(spark, s"SELECT COUNT(*), MIN(k), MAX(k) FROM $fq WHERE p = $p")
        val r = rows.head
        Map("value" -> Seq(r.getLong(0), r.get(1), r.get(2)), "scanned" -> scans)
      case "scan_agg" =>
        val tx = client.getTxTable(Cat, Sch, name(t))
        val df = Trace.span("tables", "scan")(tx.scan(s"k >= ${long(op("lo"))} AND k < ${long(op("hi"))}"))
        val r = Trace.span("sql", "exec")(df.agg(count(lit(1)), sum(col("v"))).collect().head)
        Seq(r.getLong(0), r.get(1))
      case "flat_view" =>
        Trace.span("client", "register_views")(client.registerAllViews())
        val r = sqlRows(spark, s"SELECT COUNT(*), SUM(v) FROM ${Cat}_${Sch}_${name(t)} WHERE p = $p")._1.head
        Seq(r.getLong(0), r.get(1))
      case "changes" =>
        val v = appendVersion.synchronized(appendVersion(long(op("of"))))
        val tx = client.getTxTable(Cat, Sch, name(t))
        val df = Trace.span("tables", "changes")(tx.changesSince(v - 1, Some(v)))
        Trace.span("sql", "exec")(df.select("k").collect().toSeq).map(_.getLong(0)).sorted
      case "append" =>
        val df = rowsDF(spark, op("rows").asInstanceOf[Seq[Seq[Any]]])
        val info = store.getTable(Cat, Sch, name(t))
        Trace.span("io", "write", Map("kind" -> "append"))(
          TableIO.write(spark, info, df, WriteMode.APPEND))
        null
      case "replace_where" =>
        val df = rowsDF(spark, op("rows").asInstanceOf[Seq[Seq[Any]]])
        val info = store.getTable(Cat, Sch, name(t))
        Trace.span("io", "write", Map("kind" -> "replace_where"))(
          TableIO.write(spark, info, df, WriteMode.OVERWRITE, replaceWhere = Some(s"p = $p")))
        null
      case "merge" =>
        val df = rowsDF(spark, op("rows").asInstanceOf[Seq[Seq[Any]]])
        val tx = client.getTxTable(Cat, Sch, name(t))
        Trace.span("tables", "merge")(
          tx.merge(df, "s.k = t.k").whenMatchedUpdateAll().whenNotMatchedInsertAll().execute())
        null
      case "delete" =>
        val tx = client.getTxTable(Cat, Sch, name(t))
        Trace.span("tables", "delete")(tx.delete(s"p = $p AND k % ${long(op("mod"))} = ${long(op("rem"))}"))
        null
    }
  }

  /** Traced runs only, after the timed region: snapshot resolution per
    * backend, and the pruning ratio of a scan op's predicate.
    */
  private def traceProbes(spark: SparkSession, tablesDir: File, op: Map[String, Any], kind: String,
      t: Int, backend: String): Map[String, Any] = {
    val loc = new File(tablesDir, name(t)).getAbsolutePath
    val tx = TxTable.forAnyLocation(spark, loc)
    val (snap, ms) = Main.timed(tx.snapshot)
    val pruned =
      if (kind == "scan_agg") {
        val after = tx.filesAfterPruning(s"k >= ${long(op("lo"))} AND k < ${long(op("hi"))}")
        Some(Seq(after, snap.files.size))
      } else None
    Map("i" -> op("i"), "backend" -> backend, "snapshot_ms" -> ms, "pruning" -> pruned)
  }
}
