package graft.sinks

import org.apache.spark.sql.SparkSession

import graft.catalog.SchemaRegistry
import graft.model.{EntityMeta, ExtractionConfig}

/** Catalog DDL operators (SURVEY.md §2.7 D1-D5), re-expressed against the
  * Spark session catalog instead of SQLAlchemy/Postgres:
  *
  *   - D1 create-database-per-account (`acc_<accountID>` — the reference's
  *     `acc-<id>`, hyphen normalized to a legal identifier;
  *     sqlDwh.py:238-256)
  *   - D2 create typed table from metadata, idempotent, with the
  *     {success, exists, failed} report shape (sqlDwh.py:176-215,300-370)
  *   - D3 drop all tables+views (sqlDwh.py:85-123)
  *   - D5 schema introspection (spark.table(t).schema /
  *     spark.catalog.tableExists)
  */
object Ddl {
  /** The {success, exists, failed} deploy-report shape
    * (sqlDwh.py:207-215). */
  final case class DeployReport(
      success: Seq[String] = Nil,
      exists: Seq[String] = Nil,
      failed: Seq[(String, String)] = Nil)
}

final class Ddl(spark: SparkSession, registry: SchemaRegistry) {

  import Ddl.DeployReport

  def databaseName(accountId: String): String =
    "acc_" + accountId.toLowerCase.replaceAll("[^a-z0-9_]", "_")

  /** D1: idempotent database create. Returns the database name. */
  def createDatabase(accountId: String): String = {
    val db = databaseName(accountId)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    db
  }

  /** D2: one typed, empty table per entity, created from the registry
    * schema (parent form: all fields + audit columns). */
  def createTable(db: String, meta: EntityMeta, subformNames: Seq[String] = Nil): DeployReport = {
    val name = s"$db.${meta.id.toLowerCase}"
    if (spark.catalog.tableExists(name)) DeployReport(exists = Seq(name))
    else
      try {
        val schema = registry.parentSchema(meta, subformNames)
        spark.sql(s"CREATE TABLE $name (${schema.toDDL}) USING parquet")
        DeployReport(success = Seq(name))
      } catch {
        case e: Exception => DeployReport(failed = Seq(name -> e.getMessage))
      }
  }

  /** D2 for a subform: one typed CHILD table, created from the child
    * schema (subform fields + propagated parent PK + audit). */
  def createChildTable(db: String, child: EntityMeta, parent: EntityMeta): DeployReport = {
    val name = s"$db.${child.id.toLowerCase}"
    if (spark.catalog.tableExists(name)) DeployReport(exists = Seq(name))
    else
      try {
        val schema = registry.childSchema(child, parent)
        spark.sql(s"CREATE TABLE $name (${schema.toDDL}) USING parquet")
        DeployReport(success = Seq(name))
      } catch {
        case e: Exception => DeployReport(failed = Seq(name -> e.getMessage))
      }
  }

  private def merge(reports: Seq[DeployReport]): DeployReport =
    reports.foldLeft(DeployReport()) { (a, b) =>
      DeployReport(a.success ++ b.success, a.exists ++ b.exists, a.failed ++ b.failed)
    }

  /** T3 + D2: the config-driven deploy list — `[EntityID] + expand` per
    * configured entity (sqlDwh.py:145-172) — dispatched as one typed
    * PARENT table per entity and one typed CHILD table per subform
    * (sqlDwh.py:176-215). Entities missing from the catalog land in
    * `failed`, mirroring the reference's per-table error capture. */
  def deployConfig(db: String, config: ExtractionConfig): DeployReport =
    merge(config.entities.flatMap { e =>
      registry.get(e.entityId) match {
        case None =>
          Seq(DeployReport(failed = Seq(
            s"$db.${e.entityId.toLowerCase}" -> "no metadata for entity")))
        case Some(parent) =>
          createTable(db, parent, e.expand) +:
            e.expand.map { sub =>
              registry.get(sub) match {
                case None =>
                  DeployReport(failed = Seq(
                    s"$db.${sub.toLowerCase}" -> "no metadata for subform"))
                case Some(child) => createChildTable(db, child, parent)
              }
            }
      }
    })

  /** D3: drop all views, then all tables, in a database; returns dropped
    * names + count — the reference's reset report (sqlDwh.py:114-118). */
  def dropAll(db: String): (Seq[String], Int) = {
    // listTables(db) also returns session-scoped TEMPORARY views (their
    // database is null) — those belong to the session, not this database,
    // and must survive a database reset.
    val tables = spark.catalog.listTables(db).collect()
      .filterNot(_.isTemporary)
    val (views, plain) = tables.partition(_.tableType == "VIEW")
    views.foreach(v => spark.sql(s"DROP VIEW IF EXISTS $db.${v.name}"))
    plain.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.${t.name}"))
    val names = (views ++ plain).map(_.name).toSeq
    (names, names.size)
  }

  /** D5: column name → type introspection (priorityDataSource.py:912-924). */
  def describe(table: String): Map[String, String] =
    spark.table(table).schema.fields.map(f => f.name -> f.dataType.sql).toMap
}
