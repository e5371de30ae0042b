package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Schema-on-read over semi-structured (JSON string) columns — the
  * event-properties pattern: a typed core schema plus a free-form
  * JSON payload column, queried by projecting payload fields as
  * typed columns.
  *
  * Spark-first: `from_json` with an explicit DDL schema is a single
  * codegen'd parse per row (JsonToStructs); every projected field
  * comes out of that one parse, unlike N `get_json_object` calls
  * which each re-parse the string. Malformed documents yield a null
  * struct (PERMISSIVE), so fields null-propagate instead of failing
  * the scan — the right default for 100 TB of crawled events. At
  * rest, promote hot fields to real columns; this operator is the
  * query-side bridge until then.
  */
object SemiStructured {

  /** Project `fields` of the JSON column as typed top-level columns
    * (appended after the existing columns). `schemaDdl` is the DDL
    * struct schema of the JSON payload, e.g. `"k INT, tag STRING"`.
    */
  def extractJson(df: DataFrame, jsonCol: String, schemaDdl: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
    val clash = schema.fieldNames.toSet.intersect(df.columns.toSet)
    require(clash.isEmpty,
      s"JSON fields collide with existing columns: ${clash.mkString(", ")} — " +
        "rename in the DDL (e.g. \"k INT\" -> \"props_k INT\" via a post-select)")
    val parsed = from_json(col(jsonCol), schema)
    // collision-free temp name: a caller's own "_parsed" column must
    // survive untouched
    val tmp = Iterator.from(0).map(i => s"_parsed$i")
      .find(n => !df.columns.contains(n)).get
    df.withColumn(tmp, parsed)
      .select(col("*"), col(s"$tmp.*"))
      .drop(tmp)
  }
}
