package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Enrichment stage: constant-map lookups (SURVEY.md §2.3).
  *
  * The reference has no relational joins; enrichment enters via the
  * north star: role -> actor_class and tool -> category lookups. Both
  * dims are compile-time constants of 4 and ~10 entries
  * ([[Schema.roleDim]], [[Schema.toolDim]]), so each lookup is a literal
  * map in the generated code: `element_at(typedLit(map), key)`. No join,
  * no broadcast exchange and no Spark job, in any plan that holds it.
  *
  * Lookup semantics are a left join's: an unmapped tool ("mystery_tool"
  * in the fixtures) or a null key yields a null category and the row
  * stays — row loss would break the routed-row set-equality invariant.
  * `element_at` on a map returns null for a missing key under either
  * ANSI setting. The output keeps the column order the two left joins
  * produced (`tool`, `role`, the rest, `actor_class`, `tool_category`),
  * so sink files are unchanged.
  */
object Enrich {

  def apply(df: DataFrame): DataFrame = {
    val rest = df.columns.toIndexedSeq.filterNot(Set("tool", "role"))
    df.select(Seq(col("tool"), col("role")) ++ rest.map(col) ++ Seq(
      element_at(typedLit(Schema.roleDim.toMap), col("role"))
        .as("actor_class"),
      element_at(typedLit(Schema.toolDim.toMap), col("tool"))
        .as("tool_category")): _*)
  }
}
