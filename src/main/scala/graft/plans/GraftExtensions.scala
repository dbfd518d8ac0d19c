package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.GraftFunctions

/** Session extensions entry point — the engine's `CREATE EXTENSION`
  * analogue (reference `backend/load_data.py:67-68` installs postgis +
  * vector into the database; here one builder call installs graft's
  * functions and optimizer rules into the session). Its caller is
  * [[graft.GraftSession]], the factory every entry point takes its
  * session from; an outside session can install it with
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.injectInto(ext)
    ext.injectOptimizerRule(_ => SpatialFilterPushdown)
  }
}
