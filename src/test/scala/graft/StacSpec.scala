package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.stac.{StacOps, StacSynth, StacWrite, HlsCollections, Validation}

class StacSpec extends SparkSpecBase {
  import spark.implicits._

  test("catalog is deterministic and fully populated") {
    val c = StacSynth.catalog(spark, sf).cache()
    assert(c.count() === 1500)
    assert(c.filter($"tile".rlike("^[0-9]{2}[A-Z]{3}$")).count() === 1500)
    assert(c.filter(size($"links") === 4).count() === 1500)
  }

  test("link extract picks the https stac.json link, not s3/xml/jpg") {
    val rows = StacOps.linkExtract(spark, sf).collect()
    assert(rows.length === 1500)
    assert(rows.forall(_.getString(1).startsWith("https")))
    assert(rows.forall(_.getString(1).endsWith("_stac.json")))
  }

  test("bbox filter validates and restricts") {
    intercept[IllegalArgumentException] {
      StacOps.bboxFilter(spark, sf, (100.0, 0.0, 60.0, 50.0)) // w>e
    }
    intercept[IllegalArgumentException] {
      Validation.validateBbox(-200, 0, 10, 10)
    }
    val in = StacOps.bboxFilter(spark, sf, (-150.0, -50.0, -100.0, 50.0)).collect()
    assert(in.nonEmpty)
    assert(in.forall { r =>
      val lon = r.getDouble(1); val lat = r.getDouble(2)
      lon >= -150 && lon <= -100 && lat >= -50 && lat <= 50
    })
  }

  test("monthly rollup marks complete months and honors origin dates") {
    val rows = StacOps.monthlyRollup(spark, sf).collect()
    assert(rows.nonEmpty)
    val jan95L = rows.find(r => r.getString(0) == "HLSL30_2.0" &&
      r.getDate(1).toString == "1995-01-01").get
    // origin 1995-01-15 → expected days = 17 (15th..31st)
    assert(jan95L.getLong(3) === 17L)
  }

  test("spatial sort: bucketed-offset ranks ≡ the global hilbert order") {
    val rows = StacOps.spatialSort(spark, sf, 8).collect()
    assert(rows.length > 1)
    // ranks are the exact sequence 1..n (disjoint, ordered ranges —
    // any boundary overlap would duplicate or skip a rank)
    assert(rows.map(_.getLong(0)).toSeq === (1L to rows.length.toLong))
    // and the emitted order IS the (hilbert, granule_id) total order
    val keys = rows.map(r => (r.getLong(2), r.getLong(1)))
    assert(keys.toSeq === keys.toSeq.sorted)
  }

  test("writeMonthly: partitioned zstd layout, skip-existing") {
    val tmp = Files.createTempDirectory("graft-stac").toString
    val items = StacSynth.catalog(spark, sf)
    val wrote = StacWrite.writeMonthly(spark, items, tmp, "0.1",
      "HLSL30_2.0", 1996, 3)
    assert(wrote)
    val monthDir = s"$tmp/v0.1/HLSL30_2.0/year=1996/month=3"
    assert(StacWrite.exists(spark, monthDir))
    // partition pruning works on readback
    val back = spark.read.parquet(s"$tmp/v0.1/HLSL30_2.0")
      .filter($"year" === 1996 && $"month" === 3)
    assert(back.count() > 0)
    // skip-existing short-circuits
    assert(!StacWrite.writeMonthly(spark, items, tmp, "0.1",
      "HLSL30_2.0", 1996, 3, skipExisting = true))
    // rewrite without skip replaces, does not clobber other months
    val wrote2 = StacWrite.writeMonthly(spark, items, tmp, "0.1",
      "HLSL30_2.0", 1996, 4)
    assert(wrote2 && StacWrite.exists(spark, monthDir))
  }

  test("wkb_point encodes the standard little-endian POINT layout") {
    import graft.expressions.WkbPoint
    val b = WkbPoint.encode(1.0, 2.0)
    def hex(a: Array[Byte]) = a.map("%02X".format(_)).mkString
    assert(hex(b) === "0101000000000000000000F03F0000000000000040")
    assert(b.length === 21)
    // and the sink carries the geometry column
    val tmp = java.nio.file.Files.createTempDirectory("graft-geo").toString
    val items = StacSynth.catalog(spark, sf)
    StacWrite.writeMonthly(spark, items, tmp, "0.1", "HLSL30_2.0", 1996, 3)
    val back = spark.read.parquet(s"$tmp/v0.1/HLSL30_2.0")
    assert(back.columns.contains("geometry"))
    val row = back.select("lon", "lat", "geometry").head()
    assert(java.util.Arrays.equals(row.getAs[Array[Byte]](2),
      WkbPoint.encode(row.getDouble(0), row.getDouble(1))))
  }

  test("monthly sink writes GeoParquet 'geo' footer with exact per-file bbox") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val tmp = Files.createTempDirectory("graft-geofooter").toString
    val items = StacSynth.catalog(spark, sf)
    StacWrite.writeMonthly(spark, items, tmp, "0.1", "HLSL30_2.0", 1996, 3)
    val monthDir = new Path(s"$tmp/v0.1/HLSL30_2.0/year=1996/month=3")
    val hc = spark.sparkContext.hadoopConfiguration
    val parts = FileSystem.get(monthDir.toUri, hc).listStatus(monthDir)
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
    assert(parts.nonEmpty)
    for (p <- parts) {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, hc))
      try {
        val fileMeta = reader.getFooter.getFileMetaData
        val geo = fileMeta.getKeyValueMetaData.get("geo")
        assert(geo != null, s"missing 'geo' footer key in $p")
        assert(geo.contains("\"version\":\"1.1.0\""))
        assert(geo.contains("\"primary_column\":\"geometry\""))
        assert(geo.contains("\"encoding\":\"WKB\""))
        // geometry_types reports what was actually written; crs is the
        // explicit OGC:CRS84 PROJJSON (rustac emits it too)
        assert(geo.contains("\"geometry_types\":[\"Point\"]"))
        assert(geo.contains("\"crs\":{"))
        assert(geo.contains("\"authority\":\"OGC\",\"code\":\"CRS84\""))
        // per-file bbox must equal the file's exact lon/lat extent
        val bbox = "\"bbox\":\\[([^\\]]+)\\]".r
          .findFirstMatchIn(geo).get.group(1).split(',').map(_.toDouble)
        val ext = spark.read.parquet(p.toString)
          .agg(min($"lon"), min($"lat"), max($"lon"), max($"lat"))
          .head()
        for (i <- 0 until 4) {
          assert(math.abs(bbox(i) - ext.getDouble(i)) < 1e-9,
            s"bbox[$i] ${bbox(i)} != ${ext.getDouble(i)} in $p")
        }
        // every column chunk is zstd
        import scala.jdk.CollectionConverters._
        for (block <- reader.getFooter.getBlocks.asScala;
             col <- block.getColumns.asScala) {
          assert(col.getCodec.name() === "ZSTD")
        }
      } finally reader.close()
    }
    // DuckDB-compatible round trip: the WKB geometry decodes back to
    // the row's centroid (driver verifies via ST_GeomFromWKB)
    val row = spark.read.parquet(monthDir.toString)
      .select("lon", "lat", "geometry").head()
    val xy = org.apache.spark.sql.execution.datasources.parquet
      .GeoParquetWriteSupport.wkbPointXY(row.getAs[Array[Byte]](2)).get
    assert(xy === ((row.getDouble(0), row.getDouble(1))))
  }

  test("geoparquet reader prunes files by footer bbox, results stay exact") {
    import graft.stac.GeoParquetRead
    val tmp = Files.createTempDirectory("graft-georead").toString
    val items = StacSynth.catalog(spark, sf)
    StacWrite.writeMonthly(spark, items, tmp, "0.1", "HLSL30_2.0", 1996, 3,
      spatialPartitions = 8)
    val monthDir = s"$tmp/v0.1/HLSL30_2.0/year=1996/month=3"
    val metas = GeoParquetRead.listFileGeo(spark, monthDir)
    assert(metas.nonEmpty && metas.forall(_.bbox.isDefined))
    // the distributed (executor-side) footer pass returns the same set
    val distributed = GeoParquetRead
      .listFileGeo(spark, monthDir, distributeAbove = 0)
    assert(distributed.sortBy(_.path) === metas.sortBy(_.path))
    // a quarter-hemisphere AOI: Hilbert clustering must let some
    // files be skipped entirely, and the pruned read equals the
    // full-scan filter row for row
    val aoi = (-170.0, -80.0, -90.0, 0.0)
    val (pruned, nRead, nTotal) = GeoParquetRead.readBbox(spark, monthDir, aoi)
    assert(nTotal === metas.size)
    assert(nRead < nTotal, s"expected pruning, read $nRead/$nTotal")
    val full = spark.read.parquet(monthDir)
      .filter($"lon" >= aoi._1 && $"lon" <= aoi._3 &&
        $"lat" >= aoi._2 && $"lat" <= aoi._4)
    assert(pruned.count() === full.count())
    assert(pruned.select("granule_id").collect().map(_.getLong(0)).sorted
      === full.select("granule_id").collect().map(_.getLong(0)).sorted)
    // the whole world reads every file; a disjoint AOI reads none
    val (world, wRead, _) =
      GeoParquetRead.readBbox(spark, monthDir, (-180.0, -90.0, 180.0, 90.0))
    assert(wRead === nTotal && world.count() === spark.read.parquet(monthDir).count())
    val corner = (179.0, 89.0, 180.0, 90.0)
    val (tiny, tRead, _) = GeoParquetRead.readBbox(spark, monthDir, corner)
    val tinyFull = spark.read.parquet(monthDir)
      .filter($"lon" >= corner._1 && $"lon" <= corner._3 &&
        $"lat" >= corner._2 && $"lat" <= corner._4).count()
    assert(tiny.count() === tinyFull)
    assert(tRead <= nTotal)
  }

  test("geoparquet format pins zstd level 6 on the writer job conf") {
    import org.apache.hadoop.mapreduce.Job
    import org.apache.spark.sql.types._
    val fmt = new graft.stac.GeoParquetFileFormat
    val schema = StructType(Seq(StructField("geometry", BinaryType)))
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    fmt.prepareWrite(spark, job, Map("compression" -> "zstd"), schema)
    assert(job.getConfiguration.get(
      "parquet.compression.codec.zstd.level") === "6")
    assert(job.getConfiguration.get("parquet.write.support.class") ===
      "org.apache.spark.sql.execution.datasources.parquet.GeoParquetWriteSupport")
    // and the option override is honored
    val job2 = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    fmt.prepareWrite(spark, job2,
      Map("compression" -> "zstd", "zstdLevel" -> "9"), schema)
    assert(job2.getConfiguration.get(
      "parquet.compression.codec.zstd.level") === "9")
  }

  test("geoparquet footer honors renamed geometry column and non-Point WKB") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import java.nio.{ByteBuffer, ByteOrder}
    def lineString(pts: Seq[(Double, Double)]): Array[Byte] = {
      val buf = ByteBuffer.allocate(9 + pts.size * 16)
        .order(ByteOrder.LITTLE_ENDIAN)
      buf.put(1.toByte).putInt(2).putInt(pts.size)
      pts.foreach { case (x, y) => buf.putDouble(x).putDouble(y) }
      buf.array()
    }
    def point(x: Double, y: Double): Array[Byte] = {
      val buf = ByteBuffer.allocate(21).order(ByteOrder.LITTLE_ENDIAN)
      buf.put(1.toByte).putInt(1).putDouble(x).putDouble(y)
      buf.array()
    }
    val tmp = Files.createTempDirectory("graft-geoline").toString
    val rows = Seq(
      (1L, lineString(Seq((0.0, 0.0), (10.0, 10.0)))),
      (2L, point(5.0, 5.0)))
    spark.createDataFrame(rows).toDF("id", "geom")
      .coalesce(1).write.format("geoparquet").mode("overwrite")
      .option("geometryColumn", "geom").save(tmp)
    val hc = spark.sparkContext.hadoopConfiguration
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(part.toString), hc))
    val geo =
      try reader.getFooter.getFileMetaData.getKeyValueMetaData.get("geo")
      finally reader.close()
    assert(geo != null)
    // the configured column name, not a hardcoded "geometry"
    assert(geo.contains("\"primary_column\":\"geom\""))
    // mixed types are reported, and the point-derived bbox is OMITTED —
    // it would under-cover the LineString and mislead footer pruners
    assert(geo.contains("\"geometry_types\":[\"Point\",\"LineString\"]") ||
      geo.contains("\"geometry_types\":[\"LineString\",\"Point\"]"))
    assert(!geo.contains("\"bbox\""))
  }

  test("geoparquet footer: EWKB/ISO-flagged points disqualify the bbox") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import java.nio.{ByteBuffer, ByteOrder}
    import org.apache.spark.sql.execution.datasources.parquet.GeoParquetWriteSupport
    // type-code masking: EWKB flag bits and ISO Z/M/ZM offsets both
    // reduce to the base code (1001 PointZ → 1, not 233; 0x20000001 → 1)
    def header(code: Int): Array[Byte] = {
      val buf = ByteBuffer.allocate(21).order(ByteOrder.LITTLE_ENDIAN)
      buf.put(1.toByte).putInt(code).putDouble(1.0).putDouble(2.0)
      buf.array()
    }
    assert(GeoParquetWriteSupport.wkbGeometryType(header(1001)) === Some(1))
    assert(GeoParquetWriteSupport.wkbGeometryType(header(0x20000001)) === Some(1))
    assert(GeoParquetWriteSupport.wkbGeometryType(header(2002)) === Some(2))
    assert(GeoParquetWriteSupport.wkbGeometryType(header(0xC0000003)) === Some(3))
    // a file mixing plain and EWKB-flagged points: every type code masks
    // to Point, but the flagged row is NOT folded into the running bbox —
    // the decoded-vs-written count gate must therefore omit the bbox
    def plainPoint(x: Double, y: Double): Array[Byte] = {
      val buf = ByteBuffer.allocate(21).order(ByteOrder.LITTLE_ENDIAN)
      buf.put(1.toByte).putInt(1).putDouble(x).putDouble(y)
      buf.array()
    }
    val tmp = Files.createTempDirectory("graft-geoewkb").toString
    val rows = Seq(
      (1L, plainPoint(5.0, 5.0)),
      (2L, header(0x20000001))) // EWKB Z-flagged point at (1,2)
    spark.createDataFrame(rows).toDF("id", "geometry")
      .coalesce(1).write.format("geoparquet").mode("overwrite").save(tmp)
    val hc = spark.sparkContext.hadoopConfiguration
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(part.toString), hc))
    val geo =
      try reader.getFooter.getFileMetaData.getKeyValueMetaData.get("geo")
      finally reader.close()
    assert(geo != null)
    assert(geo.contains("\"geometry_types\":[\"Point\"]"))
    assert(!geo.contains("\"bbox\""))
  }

  test("collection registry mirrors reference constants") {
    assert(HlsCollections.byName("HLSL30").conceptId === "C2021957657-LPCLOUD")
    assert(HlsCollections.byName("HLSS30").collectionId === "HLSS30_2.0")
    intercept[IllegalArgumentException] { HlsCollections.byName("NOPE") }
    assert(HlsCollections.linkPath("HLSL30_2.0", 2024, 1, 5) ===
      "links/HLSL30_2.0/2024/01/2024-01-05.json")
  }

  test("hilbert index query computes in-plan (codegen) without error") {
    val rows = StacOps.hilbertIndexQuery(spark, sf).limit(50).collect()
    assert(rows.nonEmpty)
    import graft.expressions.HilbertIndex
    rows.foreach { r =>
      assert(r.getLong(3) === HilbertIndex.xy2d(14, r.getInt(1), r.getInt(2)))
    }
  }
}
