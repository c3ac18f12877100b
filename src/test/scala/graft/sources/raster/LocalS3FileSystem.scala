package graft.sources.raster

import java.io.File
import java.net.URI
import java.nio.file.{Files, Path}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** The local filesystem under scheme `s3`: `s3://bucket/key` reads the
  * file `<root>/bucket/key`, where `root` is the configuration's
  * [[LocalS3FileSystem.RootKey]]. It lets specs drive `s3://` tile lists
  * over real TIFF bytes; the engine opens them through Hadoop's
  * `FileSystem` like any other scheme.
  */
class LocalS3FileSystem extends RawLocalFileSystem {
  // null until initialize: RawLocalFileSystem's constructor qualifies its
  // working directory against getUri
  private var uri: URI = _
  private var root: File = _

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    uri = new URI("s3", name.getAuthority, "/", null, null)
    root = new File(conf.get(LocalS3FileSystem.RootKey))
  }

  override def getUri: URI = if (uri == null) URI.create("s3:///") else uri
  override def getScheme: String = "s3"

  override def pathToFile(path: HPath): File = {
    checkPath(path)
    val abs = if (path.isAbsolute) path else new HPath(getWorkingDirectory, path)
    new File(new File(root, Option(uri.getAuthority).getOrElse("")), abs.toUri.getPath)
  }
}

object LocalS3FileSystem {
  val RootKey = "fs.s3.test.root"

  private val keys = Seq("fs.s3.impl", "fs.s3.impl.disable.cache", RootKey)

  /** `files` (`bucket/key` → bytes) written under a fresh root directory. */
  def write(files: Seq[(String, Array[Byte])]): Path = {
    val root = Files.createTempDirectory("graft-s3")
    files.foreach { case (key, bytes) =>
      val f = root.resolve(key)
      Files.createDirectories(f.getParent)
      Files.write(f, bytes)
    }
    root
  }

  def delete(root: Path): Unit = {
    val paths = Files.walk(root)
    try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally paths.close()
  }

  /** Serve `s3://` from `root` through the session's Hadoop configuration.
    * The `FileSystem` cache stays off for `s3`: a cached instance would
    * outlive [[unregister]].
    */
  def register(spark: SparkSession, root: Path): Unit = {
    spark.conf.set("fs.s3.impl", classOf[LocalS3FileSystem].getName)
    spark.conf.set("fs.s3.impl.disable.cache", "true")
    spark.conf.set(RootKey, root.toString)
  }

  def unregister(spark: SparkSession): Unit = keys.foreach(spark.conf.unset)

  /** `body` with `s3://` served from `root`. */
  def withS3[T](spark: SparkSession, root: Path)(body: => T): T = {
    register(spark, root)
    try body
    finally unregister(spark)
  }

  /** The reference's three `s3://gfw-data/bio/...` tile URIs, each a
    * float32 tile of `samples` samples in [0, 1000) whose sample `i` is
    * NaN where `i % 97 == 96`, written under a fresh root.
    */
  def bioTiles(samples: Int, width: Int): (Path, Seq[String]) = {
    require(samples % width == 0, s"$samples samples do not fill rows of $width")
    val keys = Seq("10N_010E", "10N_020E", "10N_030E").map(t => s"gfw-data/bio/$t.tif")
    val tiles = keys.zipWithIndex.map { case (key, seed) =>
      val r = new scala.util.Random(seed)
      val pix = Array.tabulate(samples)(i => if (i % 97 == 96) Double.NaN else r.nextInt(100000) / 100.0)
      key -> GeoTiffSpec.buildTiff(pix, width, samples / width, 32, 3)
    }
    (write(tiles), keys.map("s3://" + _))
  }
}
