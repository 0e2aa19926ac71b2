package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Spark extensions entry point: makes the engine's SQL surface
  * available to ANY session via
  * `--conf spark.sql.extensions=graft.GraftExtensions` — the idiomatic
  * plug-in path (SparkSessionExtensions), playing the role of the
  * reference FE's function registry bootstrap
  * (`fe/fe-core/.../catalog/FunctionSet.java`).
  *
  * Injected functions are registered at session build time, so
  * `spark.sql("SELECT time_slice(...)")` works without touching
  * graft.Engine. The result-defining settings (UTC, ANSI off, the
  * parquet timestamp reading; `Engine.resultSettings`) are not set
  * here: `Session.prepare`, which every gate calls, pins them on a
  * session built elsewhere, and leaves its performance settings alone.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    functions.Compat.injections.foreach { case (name, builder) =>
      ext.injectFunction(
        (org.apache.spark.sql.catalyst.FunctionIdentifier(name),
          new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
            "graft.functions.Compat", name),
          builder))
    }
}
