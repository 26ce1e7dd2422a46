package graft.model

import org.apache.spark.sql.types._

/** The invariant cached-table schema every `theme_type` view exposes
  * (reference contract: /root/reference/src/lib/query.js:35-44,
  * asserted by query.test.js:42-56). `_f0.._fN` theme fields follow.
  */
final case class CanonicalFeature(
    id: String,
    display_name: String,
    search_name: String,
    geometry: Array[Byte],
    geom_type: String,
    centroid_lon: Double,
    centroid_lat: Double)

object CanonicalSchema {

  val baseFields: Seq[StructField] = Seq(
    StructField("id", StringType),
    StructField("display_name", StringType),
    StructField("search_name", StringType),
    StructField("geometry", BinaryType),
    StructField("geom_type", StringType),
    StructField("centroid_lon", DoubleType),
    StructField("centroid_lat", DoubleType))

  val baseColumnNames: Seq[String] = baseFields.map(_.name)

  /** Does a DataFrame schema satisfy the canonical contract? */
  def conforms(schema: StructType): Boolean =
    baseFields.forall { f =>
      schema.fields.exists(g => g.name == f.name && g.dataType == f.dataType)
    }
}
