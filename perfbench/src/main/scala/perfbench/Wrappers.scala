package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.sinks.EntityWriter
import graft.sources.{EntitySource, FetchRequest, FlatFetch}

/** Source wrapper: a `source.fetch` span around every fetch, and an
  * optional simulated clock. While `clock` is set, the filtered entity
  * `clockEntity` only serves rows with `clockField <= clock` — pushed
  * into the scan like any other filter, so the OData connector prunes
  * the pages past the clock. */
final class BenchSource(
    inner: EntitySource, t: Tracer,
    clockEntity: String = "", clockField: String = "") extends EntitySource {

  @volatile var clock: Option[Timestamp] = None

  private def clocked(entityId: String, df: DataFrame): DataFrame =
    clock match {
      case Some(ts) if entityId.equalsIgnoreCase(clockEntity) => df.filter(col(clockField) <= lit(ts))
      case _ => df
    }

  override def fetch(req: FetchRequest): DataFrame =
    t.span("source.fetch")(clocked(req.entityId, inner.fetch(req)))

  override def fetchFlat(req: FetchRequest): Option[FlatFetch] =
    t.span("source.fetch")(inner.fetchFlat(req).map(f => f.copy(parent = clocked(req.entityId, f.parent))))
}

/** Sink wrapper: `sink.write` / `sink.promote` spans around the
  * `EntityWriter` contract. */
final class BenchWriter(inner: EntityWriter, t: Tracer) extends EntityWriter {
  override def stagingName(entity: String): String = inner.stagingName(entity)
  override def writeEntity(df: DataFrame, entity: String, append: Boolean): Long =
    t.span("sink.write")(inner.writeEntity(df, entity, append))
  override def promote(entity: String, pk: Seq[String]): Long =
    t.span("sink.promote")(inner.promote(entity, pk))
}
