package perfbench

import graft.catalog.GraftCatalog
import graft.core.TableStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, Table}

/** [[GraftCatalog]] with a span around each table load, which reads the
  * table's manifests. It records, for the traced operation, the data and
  * delete files of the snapshot each load resolved, so the trace can tell
  * how many files a scan skipped and how many delete files it applied.
  * The tracer is the run's [[Tracer.active]]; behaviour is unchanged. */
final class TracedCatalog extends GraftCatalog {
  private def traced(ident: Identifier, version: Option[Long])(load: => Table): Table =
    Tracer.active match {
      case None => load
      case Some(t) =>
        val table = t.floatingSpan(Tracer.LoadTable, "core.read")(load)
        if (!ident.name.contains("$")) {
          val ms = new TableStore(SparkSession.active, warehouseDir).manifests(ident.name)
          version.fold(ms.maxByOption(_.version))(v => ms.find(_.version == v)).foreach { m =>
            t.tableLoaded(s"${name()}.${ident.name}", m.files.size, m.deleteFiles.size)
          }
        }
        table
    }

  override def loadTable(ident: Identifier): Table = traced(ident, None)(super.loadTable(ident))
  override def loadTable(ident: Identifier, version: String): Table =
    traced(ident, version.toLongOption)(super.loadTable(ident, version))
}
