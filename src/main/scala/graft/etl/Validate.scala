package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.CanonicalSchema

/** Schema validation of a transformed frame before RAW ingest — the port
  * of the reference's validate_schema (validation.py:67-150):
  *   1. stamp the logical table_name;
  *   2. unexpected columns are a hard error (validation.py:113-115);
  *   3. coerce declared dtypes (to_numeric(errors="coerce") semantics:
  *      suppression symbols like ".." / "-" become NULL);
  *   4. an all-null column AFTER numeric coercion is an error — it means
  *      the coercion destroyed real data (validation.py:120-131);
  *   5. nulls in a non-nullable column are an error (validation.py:143-147);
  *   6. duplicate composite keys (all columns minus working cols `row`,
  *      `label` and `value`) are an error (validation.py:88-101).
  *
  * All checks run as ONE action over the frame: a groupBy on the
  * composite key carrying the per-column counts, then one global
  * aggregate — no per-column jobs and no second run of the transform that
  * feeds it, so the validation cost stays a single scan at 100 TB.
  */
object Validate {

  final case class ValidationError(msg: String) extends IllegalArgumentException(msg)

  def validateSchema(df: DataFrame, tableName: String,
                     schema: StructType = CanonicalSchema.struct): DataFrame = {
    val stamped = df.withColumn("table_name", lit(tableName))

    // 2. unexpected columns (ingest_id is stamped later by the store)
    val declared = schema.fieldNames.toSet + "ingest_id"
    val unexpected = stamped.columns.filterNot(declared)
    if (unexpected.nonEmpty)
      throw ValidationError(
        s"unexpected columns for '$tableName': ${unexpected.mkString(", ")}")

    // 3. coerce dtypes; track which columns had any non-null BEFORE coercion
    val targetFields = schema.fields.filter(f => stamped.columns.contains(f.name))
    def cast(f: StructField): Column = expr(s"try_cast(`${f.name}` AS ${f.dataType.sql})")
    val coerced = stamped.select(targetFields.map(f => cast(f).as(f.name)).toIndexedSeq: _*)

    // every check in one action: the rows grouped by their coerced
    // composite key (6), each group with its row count and per-column
    // non-null counts before (raw) and after coercion (4, 5); one global
    // aggregate then sums the counts and keeps the largest group
    val keyCols = targetFields.map(_.name).filterNot(c =>
      CanonicalSchema.workingColumns.contains(c) || c == "value" || c == "ingest_id")
    val counted = targetFields.indices.flatMap(i => Seq(s"__pre$i", s"__post$i"))
    val keyed = stamped.select(
      (targetFields.filter(f => keyCols.contains(f.name)).map(f => cast(f).as(f.name)) ++
        targetFields.indices.flatMap { i =>
          Seq(stamped(targetFields(i).name).as(s"__pre$i"), cast(targetFields(i)).as(s"__post$i"))
        }).toIndexedSeq: _*)
    val groups = keyed.groupBy(keyCols.map(c => keyed(c)).toIndexedSeq: _*)
      .agg(count(lit(1)).as("__n"), counted.map(c => count(col(c)).as(c)): _*)
    val totals = groups.agg(
      coalesce(sum(col("__n")), lit(0L)), coalesce(max(col("__n")), lit(0L)) +:
        counted.map(c => coalesce(sum(col(c)), lit(0L))): _*).head()
    val nRows = totals.getLong(0)

    targetFields.zipWithIndex.foreach { case (f, i) =>
      val pre = totals.getLong(2 + 2 * i)
      val post = totals.getLong(3 + 2 * i)
      // 4. coercion destroyed a populated column
      if (pre > 0 && post == 0)
        throw ValidationError(
          s"column '${f.name}' of '$tableName' is all-null after ${f.dataType.simpleString} coercion")
      // 5. nullability violation
      if (!f.nullable && post < nRows)
        throw ValidationError(
          s"non-nullable column '${f.name}' of '$tableName' has ${nRows - post} nulls")
    }

    // 6. duplicate composite keys
    if (totals.getLong(1) > 1)
      throw ValidationError(s"duplicate composite keys in '$tableName' on (${keyCols.mkString(", ")})")

    coerced
  }
}
