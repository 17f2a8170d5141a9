package graft.extensions

import graft.kernels.Geo
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._

/** SQL-surface registration for the engine's scalar kernels via
  * `SparkSessionExtensions` — the standard injection seam, enabled with
  *
  *   spark.sql.extensions=graft.extensions.GraftExtensions
  *
  * (or `.withExtensions(new GraftExtensions)` on the builder). Each SQL
  * function builds the same expression as the Column API,
  * [[graft.kernels.Geo.invoke]] (ExtensionsSpec asserts bit equality between
  * the SQL and Column surfaces), so SQL callers get whole-stage codegen and
  * null propagation — no UDF.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, "", name, usage, "",
      "", "", "", "", "", "built-in")

  /** SQL name → (Geo scalar, usage). */
  private val functions = Seq(
    "haversine_m" -> ("haversine", "great-circle distance in metres (R=6371 km)"),
    "bearing_deg" -> ("bearing", "initial bearing in [0, 360)"))

  override def apply(ext: SparkSessionExtensions): Unit =
    functions.foreach { case (name, (fn, what)) =>
      val signature = s"$name(lat1, lon1, lat2, lon2)"
      ext.injectFunction((
        FunctionIdentifier(name),
        info(name, s"$signature - $what"),
        (args: Seq[Expression]) => {
          require(args.length == 4, signature)
          Geo.invoke(fn, args)
        }
      ))
    }
}
