package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** `spark.sql.extensions=graft.plans.GraftExtensions` — installs the
  * engine's SQL function surface ([[graft.functions.GraftFunctions]]:
  * graft_cosine / graft_dot / graft_shingles / graft_overlap_* …), so a
  * pure-SQL session calls the codegen'd expressions with no library
  * imports. `GraftSession.local` sets this by default. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    graft.functions.GraftFunctions.all.foreach(e.injectFunction)
}
