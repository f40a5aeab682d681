package graft.crawl

import java.io.{IOException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** The crawl store's small durable files — commit manifests, lineage CSVs,
  * bucket-count markers, bloom shard maps and shard filters — all go through
  * here, on the driver and on executors alike. All IO is the Hadoop
  * FileSystem API under one configuration per JVM (local FS here;
  * HDFS/S3/… on a cluster unchanged).
  */
private[graft] object StoreFiles {

  private lazy val conf = new Configuration()

  def fs(p: Path): FileSystem = p.getFileSystem(conf)

  /** Write `path` through `path.tmp`, then delete + rename (atomic on one
    * FileSystem): a reader sees the old file or the complete new one, and a
    * crash mid-write leaves only the temp file, which the next write
    * replaces.
    */
  def writeAtomic(path: Path)(body: OutputStream => Unit): Unit = {
    val f = fs(path)
    f.mkdirs(path.getParent)
    val tmp = new Path(path.toString + ".tmp")
    val os = f.create(tmp, true)
    try body(os) finally os.close()
    f.delete(path, false)
    // Hadoop reports a failed rename by returning false, not by throwing
    if (!f.rename(tmp, path)) throw new IOException(s"rename $tmp -> $path failed")
  }

  /** `body` over the file's bytes; None when the file is absent */
  def read[T](path: Path)(body: InputStream => T): Option[T] = {
    val f = fs(path)
    if (!f.exists(path)) None
    else {
      val is = f.open(path)
      try Some(body(is)) finally is.close()
    }
  }

  def exists(path: Path): Boolean = fs(path).exists(path)

  def writeText(path: Path, text: String): Unit = writeAtomic(path)(_.write(text.getBytes(UTF_8)))

  def readText(path: Path): Option[String] = read(path)(is => new String(is.readAllBytes(), UTF_8))
}
