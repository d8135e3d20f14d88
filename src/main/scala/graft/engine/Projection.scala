package graft.engine

import graft.expr.{ExprUtils, Parser, SparkCompiler}
import graft.types.DType
import org.apache.spark.sql.{Column, DataFrame}

import scala.collection.immutable.ListMap

/** Adds a stage's columns in as few projections as they allow. Every
  * `withColumn` is one more projection, and building it analyzes the whole
  * plan below it again, so a chain of them costs more with each column. A
  * stage therefore emits its columns with one `withColumns`; a column that
  * reads or replaces another column of the same stage starts the next
  * projection, where it sees the value a `withColumn` chain would show it.
  */
private[engine] object Projection {

  /** One column to add, or to replace when `name` exists. `reads` names
    * the columns its value reads; None means the whole row (a row UDF).
    * `value` gets the frame the column is added to.
    */
  final case class Out(name: String, reads: Option[Set[String]], value: DataFrame => Column)

  object Out {
    def apply(name: String, reads: Set[String], value: Column): Out =
      Out(name, Some(reads), _ => value)

    /** A DSL expression, cast to `dtype` when one is declared. */
    def expr(name: String, e: String, dtype: Option[DType] = None): Out = {
      val node = Parser.parse(e)
      val c = SparkCompiler.compile(node)
      Out(name, ExprUtils.variables(node), dtype.fold(c)(dt => c.cast(dt.toSpark)))
    }
  }

  /** Columns that read none of each other, in one projection. */
  def all(df: DataFrame, cols: Seq[(String, Column)]): DataFrame =
    if (cols.isEmpty) df else df.withColumns(ListMap(cols: _*))

  def add(df: DataFrame, outs: Seq[Out]): DataFrame = {
    // names resolve case-insensitively by default; comparing in lower case
    // can only start a projection more often than needed
    def norm(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    var done = df
    var stage = Vector.empty[(String, Column)]
    outs.foreach { o =>
      val names = stage.map(c => norm(c._1)).toSet
      if (names(norm(o.name)) || o.reads.forall(_.exists(r => names(norm(r))))) {
        done = all(done, stage)
        stage = Vector.empty
      }
      stage :+= o.name -> o.value(done)
    }
    all(done, stage)
  }
}
