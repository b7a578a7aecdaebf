package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

/** Schemas of immutable parquet units, recorded at write time.
  *
  * A unit is a directory the engine writes once and never changes: a
  * bucket or partitioned generation, a bloom commit dir or index
  * version, a MOR base or delta log, a timeline version, a `HudiLike`
  * snapshot, a column-stats version. Its writer records the data
  * schema beside the files (`<unit>/_unit_schema`, as JSON so field
  * metadata survives; the leading `_` keeps it out of Spark's file
  * listing), and every engine-internal read of the unit goes through
  * [[read]], which hands that schema to the parquet source. A
  * schema-less `spark.read.parquet` instead runs a footer-inference
  * Spark job per read (~80 ms against ~10 ms on a 4-core host) — the
  * per-statement fixed cost that dominates small commits.
  *
  * The record holds exactly what inference would return: the written
  * columns minus the `partitionBy` ones (partition values still come
  * from the directory names), every field nullable. Units written
  * before recording existed carry no record and are the only reads
  * that still infer.
  */
object UnitSchema {

  private val FileName = "_unit_schema"

  private def recordPath(unit: String): Path = Paths.get(unit, FileName)

  /** Write `df` as the parquet unit `unit` and record its schema. */
  def write(df: DataFrame, unit: String, mode: String = "errorifexists",
      partitionBy: Seq[String] = Nil): Unit = {
    df.write.mode(mode).partitionBy(partitionBy: _*).parquet(unit)
    record(unit, df.schema, partitionBy)
  }

  /** Record the data schema of the unit just written from `schema`. */
  private def record(unit: String, schema: StructType,
      partitionBy: Seq[String] = Nil): Unit = {
    val data = StructType(schema.fields
      .filterNot(f => partitionBy.exists(_.equalsIgnoreCase(f.name)))
      .map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    val tmp = Paths.get(unit, s"$FileName.tmp${System.nanoTime()}")
    Files.writeString(tmp, data.json,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, recordPath(unit), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Record `unit`'s schema in each of `parts` — the partition dirs of
    * a `partitionBy` write that move out to be read as units of their
    * own.
    */
  def inherit(unit: String, parts: Seq[String]): Unit =
    recorded(unit).foreach(s => parts.foreach(record(_, s)))

  /** The unit's recorded data schema; None for a unit written before
    * recording existed.
    */
  def recorded(unit: String): Option[StructType] = {
    val p = recordPath(unit)
    if (!Files.exists(p)) None
    else Some(DataType.fromJson(Files.readString(p)).asInstanceOf[StructType])
  }

  /** THE read seam: `paths` (files or subdirectories inside `unit`;
    * the whole unit when empty) with the unit's recorded schema. With
    * `partitioned`, `unit` is the base path the `partitionBy` columns
    * are discovered under.
    */
  def read(spark: SparkSession, unit: String, paths: Seq[String] = Nil,
      partitioned: Boolean = false): DataFrame = {
    val r0 = spark.read
    val r1 = if (partitioned) r0.option("basePath", unit) else r0
    val r = recorded(unit).fold(r1)(r1.schema)
    r.parquet((if (paths.isEmpty) Seq(unit) else paths): _*)
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }
}
