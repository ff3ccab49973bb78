package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Dataset-version auditing: what changed between two versions of a corpus —
  * the check a validation engine runs before blessing a refreshed snapshot
  * (every "validate v2 against v1" ticket starts with "what rows and what
  * schema changed?"). No reference analogue (single-document validator);
  * corpus-level capability like Dedup/Stats.
  *
  * Scale notes:
  *   - [[rowDiff]] is ONE full outer shuffle join on the id plus a per-row
  *     content hash computed at scan time on each side — no sorts, no
  *     windows; at 100 TB both sides shuffle once on the same key (or
  *     co-locate for free if the snapshots are bucketed/partitioned alike);
  *   - [[schemaDiff]] is pure driver metadata — zero jobs.
  */
object Diff {

  /** Row-level diff of two snapshot versions keyed by `idCol`: one row per
    * difference — `added` (in b only), `removed` (in a only), `changed`
    * (both sides, content differs on `contentCols`). Unchanged rows are NOT
    * emitted (at 10^12 rows the diff must stay |delta|-sized, never
    * corpus-sized). Content equality = equality of a JSON rendering of the
    * named columns (null-safe and collision-free across column boundaries,
    * unlike a separator join).
    */
  def rowDiff(a: DataFrame, b: DataFrame, idCol: String,
      contentCols: Seq[String]): DataFrame = {
    require(contentCols.nonEmpty, "rowDiff needs at least one content column")
    def keyed(df: DataFrame, side: String) =
      df.select(col(idCol).as(s"_id_$side"),
        md5(to_json(struct(contentCols.map(col): _*))).as(s"_h_$side"))
    keyed(a, "a").join(keyed(b, "b"),
        col("_id_a") <=> col("_id_b"), "full_outer")
      .select(coalesce(col("_id_a"), col("_id_b")).as("id"),
        when(col("_id_a").isNull, "added")
          .when(col("_id_b").isNull, "removed")
          .when(col("_h_a") =!= col("_h_b"), "changed").as("status"))
      .filter(col("status").isNotNull)
  }

  /** The rows an incremental revalidation must process: snapshot-b rows
    * whose id is new or whose content changed since snapshot a. Output is
    * b's FULL rows (an anti-join against a's (id, content-hash) pairs —
    * b-sized scan, |delta|-sized output), ready to feed straight into the
    * validators: at 10^12 rows a refresh revalidates the delta, never the
    * corpus. `idCol` must be a key on both sides (a multi-null or
    * duplicated id would make "unchanged" ill-defined).
    */
  def incrementalRows(a: DataFrame, b: DataFrame, idCol: String,
      contentCols: Seq[String]): DataFrame = {
    require(contentCols.nonEmpty, "incrementalRows needs content columns")
    def h(cols: Seq[String]) = md5(to_json(struct(cols.map(col): _*)))
    val ah = a.select(col(idCol).as("_id_a"), h(contentCols).as("_h_a"))
    b.withColumn("_h_b", h(contentCols))
      .join(ah, col(idCol) <=> col("_id_a") && col("_h_b") === col("_h_a"),
        "left_anti")
      .drop("_h_b")
  }

  /** Schema-evolution diff: one (path, change) entry per difference between
    * two schemas — `added` / `removed` columns (at any nesting depth),
    * `type: X -> Y` changes, and `nullability: X -> Y` relaxations or
    * tightenings. Struct/array/map element types recurse; anything else is
    * compared atomically. Driver-side metadata only.
    */
  def schemaDiff(a: StructType, b: StructType): Seq[(String, String)] = {
    def walk(a: DataType, b: DataType, path: String): Seq[(String, String)] =
      (a, b) match {
        case (sa: StructType, sb: StructType) =>
          val an = sa.fields.map(f => f.name -> f).toMap
          val bn = sb.fields.map(f => f.name -> f).toMap
          val removed = sa.fields.filterNot(f => bn.contains(f.name))
            .map(f => s"$path${f.name}" -> "removed")
          val added = sb.fields.filterNot(f => an.contains(f.name))
            .map(f => s"$path${f.name}" -> "added")
          val shared = sa.fields.filter(f => bn.contains(f.name)).flatMap { fa =>
            val fb = bn(fa.name)
            val nul =
              if (fa.nullable != fb.nullable)
                Seq(s"$path${fa.name}" ->
                  s"nullability: ${fa.nullable} -> ${fb.nullable}")
              else Nil
            nul ++ walk(fa.dataType, fb.dataType, s"$path${fa.name}.")
          }
          (removed ++ added ++ shared).toSeq
        case (ArrayType(ea, _), ArrayType(eb, _)) => walk(ea, eb, s"${path}element.")
        case (MapType(_, va, _), MapType(_, vb, _)) => walk(va, vb, s"${path}value.")
        case (ta, tb) if ta != tb =>
          Seq(path.stripSuffix(".") ->
            s"type: ${ta.simpleString} -> ${tb.simpleString}")
        case _ => Nil
      }
    walk(a, b, "").sortBy(_._1)
  }
}
