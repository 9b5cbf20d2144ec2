package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

import graft.functions.GraftFunctions

/** Session extensions entry point — the engine's `CREATE EXTENSION`
  * analogue (reference `backend/load_data.py:67-68` installs postgis +
  * vector into the database; here one builder call installs graft's
  * functions and optimizer rules into the session):
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions ...
  * }}}
  *
  * In-process entry points get the same functions and rule from
  * [[graft.Session]], which calls [[GraftExtensions.install]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.injectInto(ext)
    ext.injectOptimizerRule(_ => SpatialFilterPushdown)
  }
}

object GraftExtensions {

  /** Install graft's functions and [[SpatialFilterPushdown]] into an
    * existing session. Idempotent: the rule's presence guards the whole
    * install, so a second call neither re-registers nor adds the rule twice.
    */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations.contains(SpatialFilterPushdown)) {
      GraftFunctions.register(spark)
      spark.experimental.extraOptimizations ++= Seq(SpatialFilterPushdown)
    }
  }
}
