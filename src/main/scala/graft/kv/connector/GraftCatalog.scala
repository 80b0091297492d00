package graft.kv.connector

import graft.kv.Catalog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.util

/** SQL front door: a Spark V2 `TableCatalog` over [[graft.kv.Catalog]],
  * giving the reference's Calcite-server surface (reference:
  * HBaseSchema.kt:107-259 — CREATE/DROP TABLE arrive as SQL;
  * HBaseModifiableTable.kt:126-240 — INSERT/DELETE as SQL DML) as
  * plain `spark.sql`:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/path/wh")
  *   spark.sql("CREATE TABLE graft.t (k BIGINT NOT NULL, v STRING) " +
  *             "TBLPROPERTIES ('primaryKey'='k')")
  *   spark.sql("INSERT INTO graft.t VALUES (1, 'a')")
  *   spark.sql("DELETE FROM graft.t WHERE k = 1")
  *   spark.sql("SELECT * FROM graft.t")
  * }}}
  *
  * Reads and appends delegate to Spark's own parquet DSv2 table over
  * the live COW snapshot directory — scans keep full pushdown/pruning;
  * DELETE is a copy-on-write rewrite through the catalog's versioned
  * snapshot pointer, the same bulk model every other graft mutation
  * uses.
  */
class GraftCatalog extends TableCatalog with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft_sql_warehouse").toString)
  }

  override def name(): String = catalogName

  /** Column DEFAULT values are first-class (reference column.sys
    * persists a default per column, HBaseSchema.kt:141-160): with this
    * capability Spark delivers `CREATE TABLE (c INT DEFAULT 5)` as
    * field metadata (CURRENT_DEFAULT/EXISTS_DEFAULT), the catalog
    * persists it, and INSERTs with missing columns or the DEFAULT
    * keyword resolve against the stored expression. */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  // one Catalog per catalog-plugin instance (Spark instantiates the
  // plugin per session): every statement of the session resolves
  // versions and takes write locks through the same lock provider,
  // instead of building a Catalog (and its provider) per loadTable
  private lazy val cat: Catalog = new Catalog(SparkSession.active, warehouse)

  private def tableName(ident: Identifier): String = {
    require(ident.namespace().isEmpty ||
      ident.namespace().sameElements(Array("default")),
      s"graft catalog is single-namespace (got ${ident.namespace().mkString(".")})")
    ident.name()
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    cat.listTables().map(t => Identifier.of(namespace, t)).toArray

  override def loadTable(ident: Identifier): Table = {
    val c = cat
    val t = tableName(ident)
    if (!c.tableExists(t))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Array(catalogName) :+ t)
    new GraftSqlTable(c, t)
  }

  /** SQL time travel: `SELECT ... FROM cat.t VERSION AS OF n` — read a
    * historical COW snapshot by its version number. Snapshots stay
    * readable until vacuumed (the reference has no time travel — its
    * HBase cells are overwritten in place; versioned snapshots are
    * what the COW model buys on top). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val c = cat
    val t = tableName(ident)
    if (!c.tableExists(t))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Array(catalogName) :+ t)
    val v = try version.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"VERSION AS OF takes a snapshot number (got '$version')")
    }
    // existence alone is not enough: a crashed writer's staged
    // data_v(live+1) exists on disk but was never published — serving
    // it would expose never-committed (possibly partial) data
    require(v <= c.dataVersionOf(t),
      s"snapshot data_v$v of $t was never published (live is data_v${c.dataVersionOf(t)})")
    require(java.nio.file.Files.exists(
      java.nio.file.Paths.get(c.dataPathAt(t, v))),
      s"snapshot data_v$v of $t does not exist (vacuumed or never written)")
    new GraftSqlTable(c, t, versionAsOf = Some(v))
  }

  /** `TIMESTAMP AS OF`: newest snapshot published at or before the
    * timestamp (directory publish mtimes — best-effort, same contract
    * as object-store listings). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val c = cat
    val t = tableName(ident)
    if (!c.tableExists(t))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Array(catalogName) :+ t)
    // timestamp arrives in MICROseconds since epoch
    val cutoffMs = timestamp / 1000L
    val v = c.snapshotAtOrBefore(t, cutoffMs).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot of $t existed at or before timestamp ${cutoffMs}ms"))
    new GraftSqlTable(c, t, versionAsOf = Some(v))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "graft tables are rowkey-laid-out, not partitioned — omit PARTITIONED BY")
    val pk = Option(properties.get("primaryKey"))
      .map(_.split(",").map(_.trim).toSeq)
      .getOrElse(Seq(schema.fieldNames.head))
    val comment = Option(properties.get(TableCatalog.PROP_COMMENT)).getOrElse("")
    val layout = Option(properties.get("layout")).getOrElse("sorted")
    val charset = Option(properties.get("charset")).getOrElse("UTF-8")
    cat.createTable(tableName(ident), schema, pk, comment = comment,
      layout = layout, charset = charset)
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "ALTER TABLE is not supported by the graft catalog")

  override def dropTable(ident: Identifier): Boolean = {
    val c = cat
    val t = tableName(ident)
    if (!c.tableExists(t)) false
    else { c.dropTable(t); true }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "RENAME TABLE is not supported by the graft catalog")

  /** Index DDL + store maintenance as SQL:
    * `CALL <catalog>.system.compact('t')` etc. — see
    * [[GraftProcedures]]. Procedures live ONLY in the `system`
    * namespace (bare `CALL cat.proc` is accepted as shorthand). */
  private def requireSystemNs(namespace: Array[String]): Unit =
    require(namespace.isEmpty || namespace.sameElements(Array("system")),
      s"no procedures in namespace '${namespace.mkString(".")}' — use system")

  override def loadProcedure(ident: Identifier):
      org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    requireSystemNs(ident.namespace())
    GraftProcedures.load(cat, ident.name())
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] = {
    requireSystemNs(namespace)
    GraftProcedures.names.map(n => Identifier.of(Array("system"), n))
  }
}
