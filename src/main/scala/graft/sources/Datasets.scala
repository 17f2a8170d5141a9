package graft.sources

import graft.core.{Canonical, TrajSchema}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** S2 — the reference's bundled-dataset loaders (ptrail/core/Datasets.py:
  * 27-207) re-expressed as local readers. The reference fetches each CSV
  * over HTTPS at call time (a portability hazard SURVEY.md §5 flags); here
  * the caller supplies a path (local/DFS/object store) and the loader
  * applies the SAME column mapping the reference hard-codes, through the
  * canonical ingest (rename + coerce + validate). No network, no pandas. */
object Datasets {

  /** (latitude, longitude, datetime, traj_id) header names per dataset, as
    * hard-coded by the reference loaders (Datasets.py:45-48, 71-74, 99-102,
    * 127-130, 155-158, 182-185). */
  val ColumnMappings: Map[String, (String, String, String, String)] = Map(
    "hurricanes" -> (("lat", "long", "DateTime", "traj_id")),
    "traffic" -> (("lat", "long", "DateTime", "traj_id")),
    "geolife" -> (("lat", "long", "datetime", "id")),
    "seagulls" -> (("lat", "long", "DateTime", "traj_id")),
    "ships" -> (("Lat", "Lon", "DateTime", "VesselName")),
    "starkey" -> (("lat", "long", "DateTime", "traj_id"))
  )

  /** Load a reference-format CSV with the dataset's canonical mapping.
    * `ships` drops rows with any null mandatory field (the reference calls
    * `df.dropna()` there, Datasets.py:154). */
  def load(spark: SparkSession, dataset: String, path: String): (DataFrame, TrajSchema) = {
    val (lat, lon, dt, id) = ColumnMappings.getOrElse(
      dataset,
      throw new IllegalArgumentException(
        s"unknown dataset '$dataset' (known: ${ColumnMappings.keys.mkString(", ")})")
    )
    val raw = spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    // the reference's ships loader calls df.dropna() over ALL columns
    // (Datasets.py:154), not just the mandatory four
    val cleaned = if (dataset == "ships") raw.na.drop() else raw
    Canonical.ingest(cleaned, id = id, ts = dt, lat = lat, lon = lon)
  }
}
