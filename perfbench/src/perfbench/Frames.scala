package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Spark frames of the generated dimensions, in the shapes the engine's
  * enrich and serve functions expect (geom as nested-array multipolygon plus
  * bbox columns), and small filesystem helpers. */
object Frames {
  val GeomType: DataType = ArrayType(ArrayType(ArrayType(ArrayType(DoubleType))))

  def geomValue(mp: Gen.MultiPolygon): Seq[Seq[Seq[Seq[Double]]]] =
    mp.map(_.map(_.map { case (x, y) => Seq(x, y) }))

  def bbox(mp: Gen.MultiPolygon): (Double, Double, Double, Double) = {
    val pts = mp.flatten.flatten
    (pts.map(_._1).min, pts.map(_._2).min, pts.map(_._1).max, pts.map(_._2).max)
  }

  private def frame(spark: SparkSession, fields: Seq[(String, DataType)], rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  private val bboxFields = Seq("geom" -> GeomType, "min_lon" -> DoubleType,
    "min_lat" -> DoubleType, "max_lon" -> DoubleType, "max_lat" -> DoubleType)
  private def geomCells(mp: Gen.MultiPolygon): Seq[Any] = {
    val (a, b, c, d) = bbox(mp)
    Seq(geomValue(mp), a, b, c, d)
  }

  def municipios(spark: SparkSession, d: Gen.Dims): DataFrame =
    frame(spark, Seq("cd_mun" -> StringType, "nm_mun" -> StringType, "uf" -> StringType,
      "area_km2" -> DoubleType) ++ bboxFields,
      d.muns.map(m => Row.fromSeq(Seq(m.cd, m.name, m.uf, m.areaKm2) ++ geomCells(m.geom))))

  /** Biome / UC / TI dimension with the engine's column names. */
  def areas(spark: SparkSession, as: Seq[Gen.Area], code: String, name: String): DataFrame =
    frame(spark, Seq("dim_id" -> LongType, code -> StringType, name -> StringType) ++ bboxFields,
      as.map(a => Row.fromSeq(Seq(a.dimId, a.code, a.name) ++ geomCells(a.geom))))

  def biomas(spark: SparkSession, d: Gen.Dims): DataFrame = areas(spark, d.biomes, "cd_bioma", "bioma_nome")
  def ucs(spark: SparkSession, d: Gen.Dims): DataFrame = areas(spark, d.ucs, "cd_cnuc", "nome_uc")
  def tis(spark: SparkSession, d: Gen.Dims): DataFrame = areas(spark, d.tis, "terrai_cod", "terrai_nom")

  /** Serving geometries keyed the way the serve routes read them. */
  def keyedGeoms(spark: SparkSession, rows: Seq[(String, String, Gen.MultiPolygon)]): DataFrame =
    frame(spark, Seq("key" -> StringType, "uf" -> StringType, "geom" -> GeomType),
      rows.map { case (k, uf, g) => Row(k, uf, geomValue(g)) })

  def ufGeoms(spark: SparkSession, d: Gen.Dims): DataFrame =
    frame(spark, Seq("uf" -> StringType, "day" -> DateType, "ver" -> IntegerType, "geom" -> GeomType),
      Gen.ufGeoms(d).map { case (uf, day, v, g) => Row(uf, java.sql.Date.valueOf(day), v, geomValue(g)) })

  // ------------------------------------------------------------ filesystem

  private def dataFiles(dir: File): Iterator[File] =
    if (!dir.exists) Iterator.empty
    else if (dir.isFile) Iterator(dir)
    else Option(dir.listFiles).iterator.flatten.flatMap(dataFiles)

  private def isData(f: File) = !f.getName.startsWith(".") && !f.getName.startsWith("_")

  /** Bytes of the data files under `dir` (Hadoop checksum and marker files
    * excluded). */
  def bytesUnder(dir: File): Long = dataFiles(dir).filter(isData).map(_.length).sum

  /** Modification times of the data files under `dir`. */
  def mtimesUnder(dir: File): Seq[Long] = dataFiles(dir).filter(isData).map(_.lastModified).toSeq

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
