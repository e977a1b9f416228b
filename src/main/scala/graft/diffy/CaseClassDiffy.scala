package graft.diffy

import org.apache.spark.sql.Dataset

/** Typed diff of case-class Datasets — the reference's shapeless-based
  * CaseClassDiffy (ratatool-shapeless/.../CaseClassDiffy.scala:158-191)
  * collapses to a one-liner here: Spark's `Encoder` already provides the
  * schema-recursive decomposition the reference derives with
  * `LabelledGeneric`, so `Dataset[T].toDF` feeds the generic Row differ
  * directly and every delta/typing/stats rule applies unchanged. */
object CaseClassDiffy {
  def diffDatasets[T](lhs: Dataset[T], rhs: Dataset[T], keys: Seq[String],
                      opts: DiffOptions = DiffOptions()): DiffResult =
    BigDiffy.diff(lhs.toDF(), rhs.toDF(), keys, opts)
}
