package graft.sources.odata

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 `TableCatalog` over an OData entity "server" — the
  * SQL-first front door to the connector: register once
  * ({{{
  *   spark.conf.set("spark.sql.catalog.<name>",
  *     classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.<name>.root", rootDir)
  * }}}) and every entity under `root` is a queryable table —
  * `spark.sql("SELECT ... FROM <name>.ORDERS WHERE ...")` — with the
  * FULL pushdown ladder (filter/limit/TopN/aggregate/columns) riding
  * the same [[ODataTable]] the `graft-odata` format serves. The
  * reference exposes its entity list as an API catalog
  * (`resources/priorityDataSource.py:336-447` builds it from
  * `$metadata`); this is the Spark-idiomatic equivalent: the catalog
  * IS the metadata scan, resolved lazily per table.
  *
  * Layout contract: `root/<ENTITY>/page_*.json`, each page the OData
  * `{"value":[...]}` response shape ([[ODataPages.ordersExpandRoot]]
  * renders exactly this). Table schemas are inferred from the first
  * page row ([[ODataTableProvider.inferSchema]]'s rules — pass an
  * explicit schema via the format reader when the first row
  * under-determines it). Read-only by design: create/alter/drop are
  * the ingest pipeline's job (the K-family sinks), not the query
  * catalog's — they throw `UnsupportedOperationException` loudly. */
final class GraftCatalog extends TableCatalog {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(
      name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = options.get("root")
    require(root != null,
      s"catalog $name needs spark.sql.catalog.$name.root")
  }

  override def name(): String = catalogName

  /** The catalog is FLAT: entities live directly under `root`, so the
    * only namespaces that exist are the empty one and `default`. Any
    * other namespace must NOT silently resolve to the same table set
    * — `a.b.ORDERS` and `a.ORDERS` are different names. */
  private def namespaceExists(ns: Array[String]): Boolean =
    ns.isEmpty || (ns.length == 1 && ns(0).equalsIgnoreCase("default"))

  /** Entities = the directories under `root` that hold page files. */
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace)
    val p = new Path(root)
    // session Hadoop conf: roots on s3a/custom schemes need it
    val fs = p.getFileSystem(ODataTableProvider.hadoopConf())
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).filter(_.isDirectory)
      .filter(d => ODataTableProvider.pageFiles(d.getPath.toString).nonEmpty)
      .map(d => Identifier.of(namespace, d.getPath.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    if (!namespaceExists(ident.namespace()))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident)
    val listing = new ODataListing(new Path(new Path(root), ident.name).toString)
    if (listing.files.isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident)
    new ODataTable(ODataTableProvider.inferSchema(listing), listing)
  }

  override def tableExists(ident: Identifier): Boolean =
    namespaceExists(ident.namespace()) &&
      ODataTableProvider.pageFiles(
        new Path(new Path(root), ident.name).toString).nonEmpty

  private def readOnly(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"$catalogName is a read-only entity catalog: $op belongs to the " +
        "ingest pipeline (StagingWriter/Ddl), not the query catalog")

  override def createTable(
      ident: Identifier, schema: StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String]): Table =
    readOnly("createTable")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    readOnly("alterTable")

  override def dropTable(ident: Identifier): Boolean = readOnly("dropTable")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    readOnly("renameTable")
}
