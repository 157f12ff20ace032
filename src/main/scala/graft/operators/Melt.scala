package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Wide→tall EAV melt (SURVEY §1.1 EAV store, K5).
  *
  * The reference maintains `*Attributes` tables of
  * (uuid, name, used, num, text, filter_val) rows, written one attribute
  * at a time with one MySQL round-trip + commit each
  * (`fun_mysql_inserts.py:347-374`, wrappers `Functions/sql_upserts.py:
  * 51-88`). Here the whole attribute set is derived as columns of one
  * wide frame and melted in a single narrow pass with `stack` — no
  * shuffle at all (it's a generator projection), and the downstream
  * upsert writes one batch per partition instead of one statement per
  * attribute.
  */
object Melt {

  /** Python-style repr of an optional boolean: 'True' / 'False' / 'None'
    * — the exact strings `f'{name}-{used}'` interpolates in
    * `fun_mysql_inserts.py:354-355` (Spark's BOOLEAN cast yields
    * lowercase 'true'/'false', which would fail a golden compare).
    */
  def pyBool(used: Column): Column =
    when(used.isNull, lit("None")).when(used, lit("True")).otherwise(lit("False"))

  /** The reference's default filter_val: `f'{name}-{used}'`
    * (`fun_mysql_inserts.py:352-355`). */
  def defaultFilterVal(name: Column, used: Column): Column =
    concat(name, lit("-"), pyBool(used))

  /** One attribute of the typed melt: the full `upsert_attribute`
    * parameter surface (`fun_mysql_inserts.py:347-374`) — `used` is an
    * independent semantic flag ("is the functionality used"), `num`
    * and `text` the typed payloads, `filterVal` an optional override
    * of the `{name}-{used}` default.
    */
  final case class Attr(name: String, used: Column,
      num: Column = lit(null).cast("double"),
      text: Column = lit(null).cast("string"),
      filterVal: Option[Column] = None)

  /** Typed melt: callers control `used` per attribute (the dominant
    * reference pattern: `upsert_edge_attribute(name='vnf_on',
    * used=vnf_on)` — `used` is NOT value-presence). One `stack` pass,
    * no shuffle.
    */
  def toEavTyped(df: DataFrame, uuid: String, attrs: Seq[Attr]): DataFrame = {
    if (attrs.isEmpty) return emptyEav(df, uuid)
    val n = attrs.size
    val pairs: Seq[Column] = attrs.flatMap { a =>
      Seq(lit(a.name),
        a.used.cast("boolean"),
        a.num.cast("double"),
        a.text.cast("string"),
        a.filterVal.getOrElse(defaultFilterVal(lit(a.name), a.used)))
    }
    df.select(
        col(uuid).as("uuid"),
        stack((lit(n) +: pairs): _*)
          .as(Seq("name", "used", "num", "text", "filter_val")))
      .select(col("uuid"), col("name"), col("used"), col("num"),
        col("text"), col("filter_val"))
  }

  /** Zero attributes melt to zero rows (stack(0) would be an
    * AnalysisException) — the natural contract for dynamically
    * assembled attribute lists.
    */
  private def emptyEav(df: DataFrame, uuid: String): DataFrame =
    df.select(col(uuid).as("uuid"),
        lit(null).cast("string").as("name"),
        lit(null).cast("boolean").as("used"),
        lit(null).cast("double").as("num"),
        lit(null).cast("string").as("text"),
        lit(null).cast("string").as("filter_val"))
      .filter(lit(false))

  /** Melt `numAttrs` (numeric) and `textAttrs` (string) columns of `df`
    * into EAV rows keyed by `uuid` — [[toEavTyped]] with `used`
    * derived.
    *
    * `used` semantics follow the attribute contract
    * (`Functions/sql_upserts.py:41-44`): it answers "is the
    * functionality used", which callers pass explicitly; the melt
    * derives it as presence of the cast value, the dominant call
    * pattern (e.g. `vnf_on`, `powerbi_main_fun.py:2426-2434`). Callers
    * needing a different `used` per attribute use [[toEavTyped]].
    */
  def toEav(df: DataFrame, uuid: String,
      numAttrs: Seq[String], textAttrs: Seq[String]): DataFrame = {
    val num = numAttrs.map { a =>
      val v = col(a).cast("double"); Attr(a, v.isNotNull, num = v) }
    val text = textAttrs.map { a =>
      val v = col(a).cast("string"); Attr(a, v.isNotNull, text = v) }
    toEavTyped(df, uuid, num ++ text)
  }
}
