package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** `MERGE INTO` re-expressed as a declarative Spark plan (SURVEY.md §2A
  * A11-A13).
  *
  * The reference drives Iceberg's row-level MERGE
  * (reference/src/data_curation/glue_jobs/pyspark_functions.py:40-137 and
  * :142-251; reference/src/data_derivation/athena_iceberg/python/
  * updating_db_with_deltas_iceberg.ipynb cell 26 for the 3-branch
  * update/delete/insert form). With no Iceberg connector in the
  * environment, we reproduce the *semantics* as a full-outer-join logical
  * plan that Catalyst optimizes like any other join, committed atomically
  * through [[TableStore]]:
  *
  *  - target ⟗ source on the merge condition;
  *  - each row resolves to the FIRST matching WHEN clause, in declaration
  *    order (Iceberg/SQL:2011 semantics);
  *  - unmatched target rows are kept, unmatched source rows dropped unless
  *    a NOT MATCHED INSERT clause fires;
  *  - Iceberg's cardinality rule — a target row matched by >1 source row is
  *    an error — is enforced INSIDE the merge plan (a per-target-row match
  *    count over the join output + assert_true), so a merge is one query
  *    execution with no separate probe pass over target and source.
  *
  * Scale: the outer join shuffles both sides, however small the source
  * (a `full_outer` join never broadcasts), and the cardinality check,
  * when on, shuffles the join output once more; the rest is a map-side
  * projection. Copy-on-write is file-level by default
  * ([[MergeBuilder.withFileLevelRewrite]]): only the files
  * [[TableStore.filesHitByKeys]] cannot rule out are read and rewritten,
  * and the rest carry into the new snapshot untouched (SURVEY.md §4
  * "MERGE physical strategy").
  *
  * In clause conditions/assignments, refer to source columns with
  * [[Merge.source]] and to target columns by plain name.
  */
object Merge {
  private[core] val SrcPrefix = "__src_"

  /** Reference a column of the MERGE source in a condition or assignment. */
  def source(name: String): Column = col(SrcPrefix + name)

  def into(store: TableStore, table: String): MergeBuilder =
    new MergeBuilder(store, table)

  private[core] sealed trait Clause {
    def condition: Option[Column]
  }
  private[core] case class Update(condition: Option[Column],
    set: Option[Map[String, Column]]) extends Clause
  private[core] case class Delete(condition: Option[Column]) extends Clause
  private[core] case class Insert(condition: Option[Column],
    values: Option[Map[String, Column]]) extends Clause
}

final class MergeBuilder private[core] (store: TableStore, table: String) {
  import Merge._

  private var src: DataFrame = _
  private var keys: Seq[(String, String)] = Seq.empty
  private var extraOn: Option[Column] = None
  private var matchedClauses = Vector.empty[Clause]
  private var insertClauses = Vector.empty[Insert]
  private var cardinalityCheck = true
  private var fileRewrite = true
  private var schemaEvolution = false
  private var lineage: Option[(String, String)] = None
  private var retries = 3

  def using(source: DataFrame): this.type = { src = source; this }

  /** Equi-join merge keys (same name on both sides), plus an optional extra
    * target-side predicate (e.g. `col("is_current")`). */
  def on(equiKeys: Seq[String], extraCondition: Option[Column] = None): this.type =
    onKeys(equiKeys.map(k => k -> k), extraCondition)

  /** Equi-join merge keys as (targetColumn, sourceColumn) pairs, for staged
    * sources whose merge key differs from the target key (the SCD2
    * merge-key trick — pyspark_functions.py:51-118). */
  def onKeys(keyPairs: Seq[(String, String)],
      extraCondition: Option[Column] = None): this.type = {
    keys = keyPairs; extraOn = extraCondition; this
  }

  /** `WHEN MATCHED [AND cond] THEN UPDATE SET ...`; `set=None` updates every
    * target column from the same-named source column. */
  def whenMatchedUpdate(condition: Option[Column] = None,
      set: Option[Map[String, Column]] = None): this.type = {
    matchedClauses :+= Update(condition, set); this
  }

  def whenMatchedDelete(condition: Option[Column] = None): this.type = {
    matchedClauses :+= Delete(condition); this
  }

  /** `WHEN NOT MATCHED [AND cond] THEN INSERT ...`; `values=None` inserts
    * every target column from the same-named source column. */
  def whenNotMatchedInsert(condition: Option[Column] = None,
      values: Option[Map[String, Column]] = None): this.type = {
    insertClauses :+= Insert(condition, values); this
  }

  def withCardinalityCheck(enabled: Boolean): this.type = {
    cardinalityCheck = enabled; this
  }

  /** `MERGE … WITH SCHEMA EVOLUTION` (Iceberg/Delta semantics): source
    * columns absent from the target are APPENDED to the target schema
    * before planning — update/insert default assignments then cover
    * them, pre-existing rows read NULL. Purely additive (no type
    * changes, no drops); the evolved schema lands in the commit's
    * manifest, and untouched carried files keep their old parquet
    * footprint — the read path fills the missing columns with null,
    * exactly like an ALTER ADD COLUMN (`TableStore.evolveSchema`). */
  def withSchemaEvolution(enabled: Boolean = true): this.type = {
    schemaEvolution = enabled; this
  }

  /** Row lineage through the merge (Iceberg v3 `_row_id` /
    * `_last_updated_sequence_number` semantics): the target must carry
    * both columns (long); updated rows KEEP their id and bump the
    * sequence to the commit's version, kept rows (and carried untouched
    * files) change neither, inserts draw fresh UNIQUE ids above the
    * table's current max. Allocation is metadata-only — the current max
    * comes from folded footer stats ([[TableStore.statMaxLong]], a scan
    * only when stats are missing) and each insert's offset is its
    * row_number over the DELTA (a delta-sized sort, never the table);
    * source rows that matched leave gaps, which lineage permits —
    * ids are unique, not dense. */
  def withRowLineage(idCol: String = "_row_id",
      seqCol: String = "_last_updated_seq"): this.type = {
    lineage = Some((idCol, seqCol)); this
  }

  /** File-level copy-on-write (default on): only target files whose
    * [min,max] range for the first merge key overlaps the source's key
    * bounds are rewritten; the rest carry into the new snapshot untouched.
    * Effective when the table is clustered on the merge key (the standard
    * layout for CDC targets); conservatively falls back to full rewrite
    * when stats are missing. */
  def withFileLevelRewrite(enabled: Boolean): this.type = {
    fileRewrite = enabled; this
  }

  /** Build the merged snapshot without committing (plan inspection/tests). */
  def plan(): DataFrame =
    planAgainst(evolve(store.read(table)),
      store.manifests(table).maxBy(_.version).version + 1)

  /** Append source-only columns (nullable) to the target when schema
    * evolution is on; identity otherwise. */
  private def evolve(target: DataFrame): DataFrame =
    if (!schemaEvolution) target
    else {
      val have = target.columns.toSet
      src.schema.fields.filterNot(f => have.contains(f.name))
        .foldLeft(target)((t, f) =>
          t.withColumn(f.name, lit(null).cast(f.dataType)))
    }

  private def planAgainst(target: DataFrame, seq: Long): DataFrame = {
    require(src != null, "MERGE requires using(source)")
    require(keys.nonEmpty, "MERGE requires on(keys)")
    lineage.foreach { case (idCol, seqCol) =>
      require(target.columns.contains(idCol) && target.columns.contains(seqCol),
        s"row lineage requires target columns $idCol and $seqCol")
      require(!src.columns.contains(idCol) && !src.columns.contains(seqCol),
        "the MERGE source must not carry lineage columns — ids are assigned")
    }
    val tSchema = target.schema

    // Lineage id offsets ride on the source BEFORE the join: a source
    // row's row_number over the delta (matched rows leave gaps — ids
    // are unique, not dense). The window sorts only the delta.
    val srcWithRn = lineage match {
      case Some(_) =>
        import org.apache.spark.sql.expressions.Window
        src.withColumn("__lineage_rn", row_number().over(
          Window.orderBy(keys.map { case (_, sk) => col(sk) }: _*))
          .cast("long"))
      case None => src
    }
    lazy val lineageMaxId: Long = lineage.map { case (idCol, _) =>
      store.statMaxLong(table, idCol).getOrElse {
        val r = store.read(table).agg(max(col(idCol))).head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
    }.getOrElse(0L)

    val s = srcWithRn
      .select(srcWithRn.columns.map(c => col(c).as(SrcPrefix + c)).toSeq: _*)
      .withColumn(SrcPrefix + "__exists", lit(true))
    val t0 = target.withColumn("__tgt_exists", lit(true))
    // Iceberg errors when one target row matches >1 source row. Enforced
    // INSIDE the merge plan (no separate probe job re-reading target and
    // source): tag each target row, count matches per tag with a window
    // over the join output, and assert_true ≤1 in a filter the optimizer
    // cannot prune. The id only discriminates rows within this one
    // execution, which is all the check needs.
    val t = if (cardinalityCheck)
      t0.withColumn("__tid", monotonically_increasing_id()) else t0
    val joinCond = keys.map { case (tk, sk) => t(tk) === s(SrcPrefix + sk) }
      .reduce(_ && _) && extraOn.getOrElse(lit(true))
    val outer = t.join(s, joinCond, "full_outer")

    val isMatched = col("__tgt_exists").isNotNull && col(SrcPrefix + "__exists").isNotNull
    val isSrcOnly = col("__tgt_exists").isNull && col(SrcPrefix + "__exists").isNotNull

    val joined = if (cardinalityCheck) {
      // Unmatched-source rows carry a null __tid; coalescing onto the
      // source key hash spreads them across window partitions instead of
      // one all-null straggler (their matched-count is 0 by definition,
      // so the grouping is free to be arbitrary for them).
      import org.apache.spark.sql.expressions.Window
      val pkey = coalesce(col("__tid"),
        xxhash64(keys.map { case (_, sk) => col(SrcPrefix + sk) }: _*))
      val nMatch = count(when(isMatched, lit(1)))
        .over(Window.partitionBy(pkey))
      outer
        .withColumn("__nmatch", nMatch)
        .filter(assert_true(col("__nmatch") <= 1, lit(
          s"MERGE into $table: a target row is matched by more than one source row"))
          .isNull)
        .drop("__nmatch", "__tid")
    } else outer

    // First-matching-clause-wins action column, in declaration order.
    val srcCols = src.columns.toSet
    def defaultSet: Map[String, Column] = tSchema.fields.collect {
      case f if srcCols.contains(f.name) => f.name -> Merge.source(f.name)
    }.toMap
    var action: Column = null
    def addCase(cond: Column, tag: String): Unit =
      action = if (action == null) when(cond, tag) else action.when(cond, tag)
    matchedClauses.zipWithIndex.foreach { case (c, i) =>
      addCase(isMatched && c.condition.getOrElse(lit(true)), s"M$i")
    }
    insertClauses.zipWithIndex.foreach { case (c, i) =>
      addCase(isSrcOnly && c.condition.getOrElse(lit(true)), s"I$i")
    }
    addCase(col("__tgt_exists").isNotNull, "KEEP")
    val withAction = joined.withColumn("__action", action.otherwise("DROP"))

    val dropTags = matchedClauses.zipWithIndex.collect {
      case (Delete(_), i) => s"M$i"
    } :+ "DROP"
    val kept = withAction.filter(!col("__action").isInCollection(dropTags))

    val updateTags = matchedClauses.zipWithIndex.collect {
      case (Update(_, _), i) => s"M$i"
    }
    val outCols = tSchema.fields.map { f =>
      var v: Column = col(f.name)
      matchedClauses.zipWithIndex.foreach {
        case (Update(_, set), i) =>
          val assigned = set.getOrElse(defaultSet).get(f.name)
          assigned.foreach(a => v = when(col("__action") === s"M$i", a).otherwise(v))
        case _ =>
      }
      insertClauses.zipWithIndex.foreach { case (Insert(_, values), i) =>
        val a = values.getOrElse(defaultSet)
          .getOrElse(f.name, lit(null))
        v = when(col("__action") === s"I$i", a.cast(f.dataType)).otherwise(v)
      }
      lineage.foreach { case (idCol, seqCol) =>
        val isIns = col("__action").startsWith("I")
        if (f.name == idCol)
          v = when(isIns,
            lit(lineageMaxId) + col(SrcPrefix + "__lineage_rn")).otherwise(v)
        if (f.name == seqCol) {
          val touched = if (updateTags.isEmpty) isIns
            else isIns || col("__action").isInCollection(updateTags)
          v = when(touched, lit(seq)).otherwise(v)
        }
      }
      v.cast(f.dataType).as(f.name)
    }
    kept.select(outCols.toSeq: _*)
  }

  /** Commit-conflict retries: how many times a lost optimistic commit
    * replans the WHOLE merge against the refreshed snapshot before
    * surfacing (Iceberg's commit.retry.num-retries). A full replan is
    * serializable by construction — the retried merge reads the winning
    * writer's snapshot, so the outcome equals running strictly after it;
    * nothing decided against the stale snapshot survives. */
  def withRetries(n: Int): this.type = {
    require(n >= 0, "retries must be non-negative"); retries = n; this
  }

  /** Execute the merge and commit the new snapshot; returns the version.
    * With file-level rewrite on, the commit writes only the files the
    * source's key range can touch (SURVEY.md §4 "MERGE physical strategy",
    * mirroring Iceberg's copy-on-write file scoping —
    * reference/docs/README.md:300-302). A concurrent commit landing
    * between plan and commit triggers a full replan (see [[withRetries]]);
    * retries exhausted surfaces [[TableStore.CommitConflictException]]. */
  def run(): Long = TableStore.retryOnConflict(retries)(runOnce())

  private def runOnce(): Long = {
    // Pin the snapshot the whole plan reads: the commit targets exactly
    // base+1, so any rival landing mid-plan trips the CAS (and run()'s
    // replan loop re-reads the rival's snapshot) instead of being
    // silently dropped by an allocate-past-it commit.
    val base = store.manifests(table).maxBy(_.version)
    val pruned =
      if (fileRewrite && keys.nonEmpty) {
        val (tk, sk) = keys.head
        val (hit, untouched) =
          store.filesHitByKeys(table, tk, src.select(col(sk)).na.drop())
        if (untouched.nonEmpty) Some((hit, untouched)) else None
      } else None
    // Rewritten files inherit the table's partition spec (identity or
    // bucket transform): a spec-less rewrite would strand the new files
    // without partition values, so every later merge/lookup on them
    // falls back to conservative full hits.
    val spec = base.partitionBy
    pruned match {
      case Some((hit, untouched)) =>
        val merged = planAgainst(evolve(store.readFiles(table, hit)),
          base.version + 1)
        store.commitFiles(table, untouched, Some(merged), "merge", spec,
          Seq.empty, baseVersion = base.version)
      case None =>
        val merged = planAgainst(evolve(store.read(table)), base.version + 1)
        store.commitFiles(table, Seq.empty, Some(merged), "merge", spec,
          Seq.empty, baseVersion = base.version)
    }
  }
}
