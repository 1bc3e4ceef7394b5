package graft.fs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The merge semantics as one plain full-outer join on the keys — the
  * plan `writeTable(Merge)` and `applyChanges` ran before feature-table
  * versions were key-clustered — kept here as the oracle the routed
  * merge is checked against.
  */
object MergeReference {

  /** Full-outer coalesce of `df` onto `old` by the keys: for columns
    * `df` carries, its row wins on a matched key (explicit NULLs too);
    * columns it omits keep their values; new columns are NULL for rows
    * only in `old`. Type conflicts fail with a named error.
    */
  def merge(old: DataFrame, df: DataFrame, keys: Seq[String], name: String): DataFrame = {
    val conflicts = df.schema.flatMap { f =>
      old.schema.find(_.name == f.name)
        .filterNot(o => org.apache.spark.sql.graftbridge.Bridge
          .sameTypeIgnoringNullability(o.dataType, f.dataType))
        .map(o => s"${f.name}: table has ${o.dataType.simpleString}, write has ${f.dataType.simpleString}")
    }
    require(conflicts.isEmpty,
      s"merge into $name: column type conflict(s) — ${conflicts.mkString("; ")}")
    val marker = "_ref_new"
    val oldVals = old.columns.filterNot(keys.contains)
    val newVals = df.columns.filterNot(keys.contains)
    val renamedOld = old.select(keys.map(col) ++ oldVals.map(c => col(c).as(s"_ref_old_$c")): _*)
    val renamedNew = df.select(
      keys.map(col) ++ newVals.map(c => col(c).as(s"_ref_new_$c")) :+ lit(1).as(marker): _*)
    val joined = renamedOld.join(renamedNew, keys, "full_outer")
    val matched = col(marker).isNotNull
    val valueCols = (oldVals ++ newVals.filterNot(oldVals.contains)).map { c =>
      if (oldVals.contains(c) && newVals.contains(c))
        when(matched, col(s"_ref_new_$c")).otherwise(col(s"_ref_old_$c")).as(c)
      else if (oldVals.contains(c)) col(s"_ref_old_$c").as(c)
      else col(s"_ref_new_$c").as(c)
    }
    joined.select(keys.map(col) ++ valueCols: _*)
  }

  /** CDC apply: the last event per key (by `seqCol`, when given) wins;
    * deletes drop the key by an anti join, upserts merge as [[merge]].
    */
  def applyChanges(old: DataFrame, changes: DataFrame, keys: Seq[String], name: String,
      opCol: String, seqCol: Option[String]): DataFrame = {
    val perKey = seqCol.fold(changes) { sc =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*).orderBy(col(sc).desc, col(opCol))
      changes.withColumn("_ref_rn", row_number().over(w))
        .filter(col("_ref_rn") === 1).drop("_ref_rn", sc)
    }
    val deletes = perKey.filter(col(opCol) === "delete").select(keys.map(col): _*)
    val upserts = perKey.filter(col(opCol) === "upsert").drop(opCol)
    merge(old.join(deletes, keys, "left_anti"), upserts, keys, name)
  }
}
