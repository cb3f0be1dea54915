package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.{VectorCosine, VectorDot}

/** Session-build-time injection of the engine's native SQL functions and
  * view DDL:
  * {{{
  *   GraftSession.builder().getOrCreate() // applies these extensions
  *   // or: spark.sql.extensions=graft.GraftExtensions
  * }}}
  * For sessions built elsewhere (e.g. the driver's), use
  * [[graft.functions.VectorFunctions.registerSql]] — and the `CALL
  * create_view` procedure face, which shares the view store with the
  * injected `CREATE VIEW` DDL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
      (exprs: Seq[Expression]) => VectorDot(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("vector_cosine"),
      new ExpressionInfo(classOf[VectorCosine].getName, "vector_cosine"),
      (exprs: Seq[Expression]) => VectorCosine(exprs(0), exprs(1))))
    // CREATE/DROP/SHOW VIEWS on Graft catalogs: intercepted before
    // Resolution (the Hints batch) — upstream's ResolveSessionCatalog
    // would otherwise reject any non-session catalog in view DDL.
    ext.injectHintResolutionRule(session =>
      new org.apache.spark.sql.graft.GraftViewDdlRule(session))
    // identity-column generation must also run pre-Resolution: once the
    // built-in output resolver fills an omitted column with NULL there is
    // no telling it apart from a user-written NULL
    ext.injectHintResolutionRule(session =>
      new org.apache.spark.sql.graft.GraftIdentityRule(session))
    // generated-column computation happens AFTER output resolution (the
    // aligned write is where positions and names are knowable)
    ext.injectResolutionRule(session =>
      new org.apache.spark.sql.graft.GraftGeneratedRule(session))
  }
}
