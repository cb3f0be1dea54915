package graft.catalog

import java.util

import graft.core.TableStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.{DataType, Metadata, MetadataBuilder, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource-v2 `TableCatalog` over [[TableStore]] — the SQL face of the
  * versioned table layer (SURVEY.md §7 "custom `TableCatalog` in v2").
  *
  * Register and query with plain SQL, including Iceberg-style time travel
  * (the reference's `FOR TIMESTAMP AS OF` —
  * reference/src/data_derivation/athena_iceberg/r/iceberg_test.Rmd:393-397):
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/path/wh")
  *   spark.sql("SELECT * FROM graft.ns.events VERSION AS OF 1")
  *   spark.sql("SELECT * FROM graft.ns.events TIMESTAMP AS OF '2024-06-01'")
  * }}}
  *
  * Reads delegate to Spark's own DSv2 `ParquetTable` over the snapshot's
  * manifest file list, so vectorized reads, filter pushdown and column
  * pruning are inherited wholesale; only file selection (versioning) is
  * ours. Writes go through the [[TableStore]] API (atomic commit protocol);
  * SQL DDL/DML against the catalog is intentionally read-only this round.
  */
class GraftCatalog extends TableCatalog with StagingTableCatalog
    with ProcedureCatalog with FunctionCatalog {
  private var catalogName: String = _
  private var initialWarehouse: String = _

  /** V2 functions (the `bucket` transform) — the FunctionCatalog face is
    * what lets a write request clustering on `bucket(n, col)` and have
    * Spark shuffle by OUR bucket arithmetic (storage-partitioned writes). */
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    GraftFunctions.load(ident.name).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(
        ident))

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    GraftFunctions.names.map(n => Identifier.of(namespace, n)).toArray

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    initialWarehouse = options.get("warehouse")
    require(initialWarehouse != null,
      s"spark.sql.catalog.$name.warehouse must point at a TableStore warehouse")
  }

  /** The warehouse root, read from the session conf on every call: the
    * CatalogManager keeps this instance for the session's lifetime, and
    * a [[graft.Scratch]] scope registers a pooled catalog name again over
    * a fresh warehouse. The value seen at `initialize` covers a key that
    * has since been unset. */
  private def warehouse: String =
    spark.conf.getOption(s"spark.sql.catalog.$catalogName.warehouse")
      .getOrElse(initialWarehouse)

  override def name(): String = catalogName

  /** Column DEFAULTs are supported (Delta/Iceberg-v3 style): CURRENT_DEFAULT
    * feeds INSERTs that omit the column, EXISTS_DEFAULT is served for rows
    * in files written BEFORE the column existed — filled by Spark's parquet
    * readers from the read schema's metadata, so an ADD COLUMN … DEFAULT is
    * metadata-only (no backfill rewrite). */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  /** SQL text of a connector literal — the EXISTS_DEFAULT form (always a
    * folded literal, per the ColumnDefaultValue contract). */
  private def literalSql(
      l: org.apache.spark.sql.connector.expressions.Literal[_]): String =
    org.apache.spark.sql.catalyst.expressions.Literal(l.value, l.dataType).sql

  /** The configured warehouse root — the view-DDL extension rule
    * ([[org.apache.spark.sql.graft.GraftViewDdlRule]]) stores views
    * under it. */
  def warehouseDir: String = warehouse

  private def spark: SparkSession = SparkSession.active
  private def store: TableStore = new TableStore(spark, warehouse)

  override def listTables(namespace: Array[String]): Array[Identifier] =
    store.tables.map(t => Identifier.of(namespace, t)).toArray

  override def tableExists(ident: Identifier): Boolean = store.exists(ident.name)

  private def tableAt(ident: Identifier, m: TableStore.Manifest): Table =
    // Merge-on-read snapshots are served by the scan itself (GraftMorScan
    // applies equality deletes per reader); row-level SQL writes plan
    // their rewrite over the same delete-aware scan, so MERGE/UPDATE/
    // DELETE work directly on MoR tables and materialize the overlay
    // they touch.
    new GraftTable(spark, catalogName, warehouse, ident.name, m)

  private def manifestOrThrow(ident: Identifier, v: Option[Long]): TableStore.Manifest = {
    val ms = store.manifests(ident.name)
    if (ms.isEmpty) throw new NoSuchTableException(ident)
    v match {
      case None => ms.maxBy(_.version)
      case Some(ver) => ms.find(_.version == ver)
        .getOrElse(throw new NoSuchTableException(ident))
    }
  }

  /** Plain table, or a `t$history` / `t$files` metadata table (A15 —
    * iceberg_test.Rmd:383-386). */
  override def loadTable(ident: Identifier): Table =
    GraftMetadata.resolve(ident.name, store)
      .getOrElse(tableAt(ident, manifestOrThrow(ident, None)))

  /** `CALL <cat>.<ns>.compact(...)` / `expire_snapshots(...)` (A16 parity
    * with `OPTIMIZE ... REWRITE DATA USING BIN_PACK`). */
  override def loadProcedure(ident: Identifier): procedures.UnboundProcedure =
    GraftProcedures.load(ident.name, store).getOrElse(
      throw new UnsupportedOperationException(s"no procedure ${ident.name}"))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.names.map(n => Identifier.of(namespace, n)).toArray

  /** `VERSION AS OF <n>` — or `VERSION AS OF '<tag>'`: a non-numeric
    * version string resolves through the table's named tags
    * (TableStore.createTag), Iceberg's tag time travel. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v =
      if (version.nonEmpty && version.forall(_.isDigit)) version.toLong
      else store.tagVersion(ident.name, version)
    tableAt(ident, manifestOrThrow(ident, Some(v)))
  }

  /** `TIMESTAMP AS OF <ts>` — micros since epoch per the DSv2 contract. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val ms = store.manifests(ident.name)
      .filter(_.timestampMs <= timestampMicros / 1000L)
    if (ms.isEmpty) throw new NoSuchTableException(ident)
    tableAt(ident, ms.maxBy(_.version))
  }

  /** SQL `CREATE TABLE` / the create half of CTAS (the reference's CTAS —
    * src/data_curation/glue_jobs/athena_functions.py:60-97). The data half
    * of CTAS arrives as a follow-up DSv2 append. */
  /** Parse a DDL partition spec into the store's name-encoded form.
    * Identity columns (the reference's partitioned DDL —
    * utils/metadata/store_sales.json "partitions",
    * create_iceberg_tpcds.py:27-33) plus Iceberg's hidden-partitioning
    * transforms: days/months/hours/years(ts), truncate(w, s),
    * bucket(n, k). Transform values are derived at write time and prune
    * via TransformPruning / bucket planning — the user only ever
    * references the source column. */
  /** Split a DDL transform array into (partition transforms, CLUSTER BY
    * columns). `CLUSTER BY (a, b)` arrives as one ClusterByTransform —
    * it maps to the store's WRITE ORDER (range-clustered, sorted files
    * whose min/max stats prune on the cluster keys: the liquid-
    * clustering shape), not to directory partitioning. */
  private def splitClusterBy(partitions: Array[Transform],
      schema: StructType): (Array[Transform], Seq[String]) = {
    val (cluster, parts) = partitions.partition(_.name == "cluster_by")
    // resolve case-insensitively (like the rest of the SQL surface) and
    // canonicalize to the schema's spelling before storing the write order
    val cols = cluster.toSeq.flatMap(_.references.map(_.fieldNames.mkString(".")))
      .map { c =>
        schema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"CLUSTER BY column $c is not in the table schema"))
      }
    (parts, cols)
  }

  private def parseSpec(partitions: Array[Transform],
      schema: StructType): Seq[String] = {
    def intLit(e: org.apache.spark.sql.connector.expressions.Expression): Option[Int] =
      e match {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          scala.util.Try(l.value.toString.toInt).toOption
        case _ => None
      }
    def refName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: org.apache.spark.sql.connector.expressions.NamedReference =>
          Some(r.fieldNames.mkString("."))
        case _ => None
      }
    // resolve transform source columns case-insensitively and
    // canonicalize to the schema's spelling (the stored spec is matched
    // by name at write/prune time)
    def canon(c: String): String =
      schema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"partition column $c is not in the table schema"))
    val partCols = partitions.map { t =>
      val refs = t.references
      t.name match {
        case "identity" if refs.length == 1 =>
          canon(refs.head.fieldNames.mkString("."))
        case n @ ("days" | "months" | "hours" | "years" | "day" | "month" |
                  "hour" | "year") if refs.length == 1 =>
          val c = canon(refs.head.fieldNames.mkString("."))
          n.stripSuffix("s") match {
            case "day" => TableStore.daysColumn(c)
            case "month" => TableStore.monthsColumn(c)
            case "hour" => TableStore.hoursColumn(c)
            case _ => TableStore.yearsColumn(c)
          }
        case "truncate" if refs.length == 1 =>
          val w = t.arguments.flatMap(intLit(_)).headOption.getOrElse(
            throw new UnsupportedOperationException(
              s"truncate transform needs a literal width, got $t"))
          TableStore.truncColumn(canon(refs.head.fieldNames.mkString(".")), w)
        case "bucket" if refs.length == 1 =>
          val n = t.arguments.flatMap(intLit(_)).headOption.getOrElse(
            throw new UnsupportedOperationException(
              s"bucket transform needs a literal bucket count, got $t"))
          TableStore.bucketColumn(canon(refs.head.fieldNames.mkString(".")), n)
        case _ => throw new UnsupportedOperationException(
          s"unsupported PARTITIONED BY transform $t " +
            s"(refs=${refs.map(r => refName(r)).mkString(",")})")
      }
    }.toSeq
    partCols
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val (parts, clusterCols) = splitClusterBy(partitions, schema)
    val partCols = parseSpec(parts, schema)
    require(!store.exists(ident.name), s"table ${ident.name} already exists")
    store.createEmpty(ident.name, schema.json, partCols)
    if (clusterCols.nonEmpty) store.setWriteOrder(ident.name, clusterCols)
    loadTable(ident)
  }

  /** Column-based CREATE TABLE: Spark's StructType bridge
    * (CatalogV2Util.v2ColumnsToStructType) carries comments and DEFAULT
    * metadata but DROPS identity specs — re-encode `GENERATED ALWAYS /
    * BY DEFAULT AS IDENTITY` into the field metadata under Spark's own
    * keys (catalyst/util/IdentityColumn.scala), where
    * [[org.apache.spark.sql.graft.GraftIdentityRule]] finds them at
    * INSERT time. */
  override def createTable(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // the StructType conversion CatalogV2Util does (it's private[sql]):
    // carry the column metadata JSON, comment, and DEFAULT halves
    val base = StructType(columns.map { c =>
      val mb = new MetadataBuilder()
      Option(c.metadataInJSON()).foreach(j =>
        mb.withMetadata(Metadata.fromJson(j)))
      Option(c.comment()).foreach(mb.putString("comment", _))
      Option(c.defaultValue()).foreach { dv =>
        val existsSql = literalSql(dv.getValue)
        mb.putString("CURRENT_DEFAULT",
          Option(dv.getSql).filter(_.nonEmpty).getOrElse(existsSql))
        mb.putString("EXISTS_DEFAULT", existsSql)
      }
      // GENERATED ALWAYS AS (expr) — under Spark's own catalyst key, so
      // DESCRIBE and GeneratedColumn utilities agree; computed on write
      // by GraftGeneratedRule, explicit writes refused by
      // GraftIdentityRule
      Option(c.generationExpression()).foreach(sql => mb.putString(
        org.apache.spark.sql.graft.GraftGenerated.MetadataKey, sql))
      StructField(c.name(), c.dataType(), c.nullable(), mb.build())
    })
    val schema = StructType(base.fields.zip(columns).map { case (f, c) =>
      Option(c.identityColumnSpec()) match {
        case Some(spec) =>
          // BIGINT only (Delta's rule): allocation rides 33-bit
          // per-partition monotonically_increasing_id blocks, so a
          // multi-partition write into a narrower type would overflow
          // the cast (ANSI error) or silently wrap into duplicates
          require(f.dataType == org.apache.spark.sql.types.LongType,
            s"identity column ${f.name} must be BIGINT")
          f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
            .putLong("identity.start", spec.getStart)
            .putLong("identity.step", spec.getStep)
            .putBoolean("identity.allowExplicitInsert",
              spec.isAllowExplicitInsert)
            .build())
        case None => f
      }
    })
    createTable(ident, schema, partitions, properties)
  }

  /** TableInfo CREATE TABLE — the entry point when the DDL carries
    * inline CHECK constraints: create, then record each (the table is
    * empty, so add-time validation is trivially satisfied). */
  override def createTable(ident: Identifier, info: TableInfo): Table = {
    val t = createTable(ident, info.columns(), info.partitions(),
      info.properties())
    addDdlConstraints(ident.name, info.constraints())
    if (info.constraints().nonEmpty) loadTable(ident) else t
  }

  private def addDdlConstraints(table: String,
      cs: Array[org.apache.spark.sql.connector.catalog.constraints.Constraint])
      : Unit =
    cs.foreach {
      case chk: org.apache.spark.sql.connector.catalog.constraints.Check =>
        store.addCheckConstraint(table, chk.name(), chk.predicateSql())
      case other => throw new UnsupportedOperationException(
        s"only CHECK constraints are enforced; got ${other.toDDL}")
    }

  // ------------------------------------------------ atomic CTAS / RTAS
  // StagingTableCatalog: `CREATE / REPLACE / CREATE OR REPLACE TABLE …
  // AS SELECT` write into the table's staging dir first and land as ONE
  // manifest swap when Spark calls commitStagedChanges() — a reader
  // never sees an empty or half-written table, a failed query leaves
  // the old snapshot untouched, and (unlike DROP + CTAS) every prior
  // version stays in the manifest log for time travel across the
  // replace. Iceberg's Spark catalog implements RTAS the same way.

  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable = {
    if (store.exists(ident.name))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          Array(catalogName) ++ ident.namespace() :+ ident.name())
    stagedTable(ident, info, "create")
  }

  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable = {
    if (!store.exists(ident.name))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Array(catalogName) ++ ident.namespace() :+ ident.name())
    stagedTable(ident, info, "replace")
  }

  override def stageCreateOrReplace(ident: Identifier,
      info: TableInfo): StagedTable =
    stagedTable(ident, info,
      if (store.exists(ident.name)) "replace" else "create")

  private def stagedTable(ident: Identifier, info: TableInfo,
      operation: String): StagedTable = {
    val schema = info.schema()
    val (parts, clusterCols) = splitClusterBy(info.partitions(), schema)
    new GraftStagedTable(SparkSession.active, catalogName, warehouse,
      ident.name, schema, parseSpec(parts, schema), operation,
      info.constraints(), clusterCols)
  }

  /** ALTER TABLE ADD/DROP/RENAME COLUMN as metadata-only schema commits
    * (data files untouched; name-based resolution nulls added columns in
    * old files; RENAME pins the field's physical parquet name in the
    * table's column map — see [[TableStore.renameColumn]]). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    changes.collect { case r: TableChange.RenameColumn => r } match {
      case Seq(r) if changes.length == 1 =>
        require(r.fieldNames.length == 1,
          "nested RENAME COLUMN is not supported")
        store.renameColumn(ident.name, r.fieldNames.head, r.newName)
        return loadTable(ident)
      case Seq() => // fall through to ADD/DROP handling
      case _ => throw new UnsupportedOperationException(
        "RENAME COLUMN must be the only change in an ALTER TABLE")
    }
    changes.collect { case u: TableChange.UpdateColumnType => u } match {
      case Seq(u) if changes.length == 1 =>
        require(u.fieldNames.length == 1,
          "nested ALTER COLUMN TYPE is not supported")
        store.widenColumnType(ident.name, u.fieldNames.head, u.newDataType)
        return loadTable(ident)
      case Seq() => // fall through to ADD/DROP handling
      case _ => throw new UnsupportedOperationException(
        "ALTER COLUMN TYPE must be the only change in an ALTER TABLE")
    }
    // `ALTER TABLE … CLUSTER BY (…)` / `CLUSTER BY NONE`: redeclare the
    // write order (metadata-only; every later data commit range-clusters
    // + sorts on the keys)
    changes.collect { case c: TableChange.ClusterBy => c } match {
      case Seq(c) if changes.length == 1 =>
        store.setWriteOrder(ident.name,
          c.clusteringColumns().toSeq.map(_.fieldNames.mkString(".")))
        return loadTable(ident)
      case Seq() => // fall through
      case _ => throw new UnsupportedOperationException(
        "CLUSTER BY must be the only change in an ALTER TABLE")
    }
    // SQL `ALTER TABLE … ADD/DROP CONSTRAINT` (SUPPORT_TABLE_CONSTRAINT):
    // the standard face of the store's Delta-style CHECK constraints —
    // add validates every existing row first, both halves share the
    // metadata-only commit with the `CALL (add|drop)_check_constraint`
    // procedures. Only enforced CHECKs are accepted: UNIQUE/PK/FK would
    // be unenforced hints, and refusing is safer than silently recording
    // a promise the engine doesn't keep.
    changes.collect {
      case c: TableChange.AddConstraint => c
      case c: TableChange.DropConstraint => c
    } match {
      case Seq(a: TableChange.AddConstraint) if changes.length == 1 =>
        a.constraint() match {
          case chk: org.apache.spark.sql.connector.catalog.constraints.Check =>
            store.addCheckConstraint(ident.name, chk.name(),
              chk.predicateSql())
          case other => throw new UnsupportedOperationException(
            s"only CHECK constraints are enforced; got ${other.toDDL}")
        }
        return loadTable(ident)
      case Seq(d: TableChange.DropConstraint) if changes.length == 1 =>
        if (!d.ifExists() ||
            store.checkConstraints(ident.name).exists(_._1 == d.name()))
          store.dropCheckConstraint(ident.name, d.name())
        return loadTable(ident)
      case Seq() => // fall through to ADD/DROP COLUMN handling
      case _ => throw new UnsupportedOperationException(
        "a constraint change must be the only change in an ALTER TABLE")
    }
    val ms = store.manifests(ident.name)
    if (ms.isEmpty) throw new NoSuchTableException(ident)
    val current = ms.maxBy(_.version)
    var schema = DataType.fromJson(current.schemaJson).asInstanceOf[StructType]
    var dropped = current.droppedColumns
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "nested ADD COLUMN is not supported")
        // Same hazard as RENAME: pre-drop files still contain the dropped
        // column, and name-based resolution would resurrect their stale
        // values instead of reading null. Reject; use a fresh name.
        // Case-INSENSITIVE compare: Spark resolves columns and the store
        // matches parquet fields case-insensitively, so ADD COLUMN NOTE
        // after DROP COLUMN note would read the stale physical 'note'.
        require(!dropped.exists(_.equalsIgnoreCase(add.fieldNames.head)),
          s"column ${add.fieldNames.head} was previously dropped; " +
            "re-adding it would resurrect stale values from old files — " +
            "add it under a new name instead")
        // a new column identity-maps to its own physical name: colliding
        // with another field's PINNED physical name would make two
        // logical columns share one parquet field
        require(!current.columnMap.exists(
            _._2.equalsIgnoreCase(add.fieldNames.head)),
          s"column ${add.fieldNames.head} is the pinned physical name of " +
            "a renamed column; pick a different name")
        // ADD COLUMN … DEFAULT v: metadata-only backfill. EXISTS_DEFAULT
        // (the folded literal) is what scans substitute for the column in
        // every file written before this commit; CURRENT_DEFAULT feeds
        // future INSERTs that omit the column, and is the only half a
        // later SET DEFAULT may change.
        val meta = Option(add.defaultValue()) match {
          case Some(dv) =>
            val existsSql = literalSql(dv.getValue)
            new MetadataBuilder()
              .putString("CURRENT_DEFAULT",
                Option(dv.getSql).filter(_.nonEmpty).getOrElse(existsSql))
              .putString("EXISTS_DEFAULT", existsSql)
              .build()
          case None => Metadata.empty
        }
        schema = schema.add(StructField(add.fieldNames.head, add.dataType,
          add.isNullable, meta))
      case upd: TableChange.UpdateColumnDefaultValue =>
        require(upd.fieldNames.length == 1,
          "nested ALTER COLUMN DEFAULT is not supported")
        val i = schema.fieldIndex(upd.fieldNames.head)
        val f = schema.fields(i)
        // SET DEFAULT only moves CURRENT_DEFAULT (future inserts);
        // EXISTS_DEFAULT stays pinned to the value declared when the
        // column was added — the SQL-standard split Delta implements.
        // DROP DEFAULT arrives as an empty/null new default.
        val newSql = Option(upd.newCurrentDefault()).map(_.getSql)
          .filter(s => s != null && s.nonEmpty)
        val mb = new MetadataBuilder().withMetadata(f.metadata)
        val newMeta = newSql match {
          case Some(sql) => mb.putString("CURRENT_DEFAULT", sql).build()
          case None => mb.remove("CURRENT_DEFAULT").build()
        }
        schema = StructType(schema.fields.updated(i,
          f.copy(metadata = newMeta)))
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          "nested DROP COLUMN is not supported")
        require(schema.fieldNames.contains(del.fieldNames.head),
          s"no column ${del.fieldNames.head}")
        schema = StructType(schema.filterNot(_.name == del.fieldNames.head))
        dropped = (dropped :+ del.fieldNames.head).distinct
      case other => throw new UnsupportedOperationException(
        s"unsupported table change: $other")
    }
    // Pass the FULL accumulated dropped list (evolveSchema unions it, so
    // this is idempotent): passing only the delta depended on alterTable's
    // read and evolveSchema's independent re-read seeing the same manifest.
    store.evolveSchema(ident.name, schema.json, dropped)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val existed = store.exists(ident.name)
    store.drop(ident.name)
    existed
  }

  /** ALTER TABLE … RENAME TO — one directory rename; history, branches
    * and the MoR overlay move intact (manifest paths are table-relative). */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!store.exists(oldIdent.name)) throw new NoSuchTableException(oldIdent)
    store.renameTable(oldIdent.name, newIdent.name)
  }
}
