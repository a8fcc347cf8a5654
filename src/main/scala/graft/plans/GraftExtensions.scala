package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Standard extension entry point: installs the engine's native functions
  * into any session via
  *
  * {{{
  *   spark.sql.extensions=graft.plans.GraftExtensions
  * }}}
  *
  * (or `SparkSession.builder().withExtensions(new GraftExtensions)`), so a
  * cluster configured with this library gets every [[NativeFunctions]]
  * entry as a first-class SQL function without per-session registration
  * calls. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    NativeFunctions.all.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.build))
    }
}
