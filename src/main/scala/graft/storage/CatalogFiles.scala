package graft.storage

import java.io.ByteArrayInputStream
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.{ColumnIOFactory, DelegatingSeekableInputStream, InputFile,
  LocalInputFile, LocalOutputFile, SeekableInputStream}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BINARY

/** Driver-side parquet I/O for the commit catalog (`_catalog/commits`,
  * `_catalog/refs`): a few rows of nullable string columns, read and
  * written with parquet-mr directly, so no catalog access runs a Spark
  * job. The layout stays the one Spark writes — `*.parquet` part files
  * plus `_SUCCESS` — so Spark-written catalogs read unchanged and
  * external readers (the DuckDB oracle) can glob the same files.
  *
  * Every write lands atomically: rows go to a dot-prefixed `.tmp` file
  * in the target directory (hidden from Spark's listing and from a
  * `*.parquet` glob), which is then renamed into place. */
private[storage] object CatalogFiles {

  // plain (non-Hadoop) settings, fresh per file (one set shared by two
  // reading threads raised ConcurrentModificationException): the
  // default ones build a Hadoop Configuration per file, which made each
  // tiny catalog read or write take a few milliseconds
  private def conf = new PlainParquetConfiguration()
  private def readOptions = ParquetReadOptions.builder(conf).build()

  private def schema(cols: Seq[String]): MessageType =
    Types.buildMessage().addFields(cols.map(c =>
      Types.optional(BINARY).as(LogicalTypeAnnotation.stringType()).named(c)): _*)
      .named("spark_schema")

  /** `*.parquet` data files of a catalog directory, sorted by name. */
  def parts(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.toArray(n => new Array[Path](n)).toSeq.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }.sortBy(_.getFileName.toString)
      finally s.close()
    }

  /** A parquet file read into memory through ONE open: its length and
    * its bytes come from the same file even when a rename replaces the
    * path mid-read (a path-based `LocalInputFile` opens it twice, once
    * for the length and once for the stream). */
  private final class BytesInputFile(bytes: Array[Byte]) extends InputFile {
    def getLength: Long = bytes.length.toLong
    def newStream(): SeekableInputStream = {
      val in = new ByteArrayInputStream(bytes) {
        def at: Long = pos.toLong
        def seekTo(p: Long): Unit = pos = p.toInt
      }
      new DelegatingSeekableInputStream(in) {
        def getPos: Long = in.at
        def seek(p: Long): Unit = in.seekTo(p)
      }
    }
  }

  /** Rows of one catalog part file, projected on `cols` (null where a
    * column is absent or null). Throws `NoSuchFileException` when the
    * file is gone. */
  def read(file: Path, cols: Seq[String]): Seq[Array[String]] = {
    val r = ParquetFileReader.open(new BytesInputFile(Files.readAllBytes(file)), readOptions)
    try {
      val fileSchema = r.getFooter.getFileMetaData.getSchema
      val idx = cols.map(c =>
        if (fileSchema.containsField(c)) fileSchema.getFieldIndex(c) else -1)
      val io = new ColumnIOFactory().getColumnIO(fileSchema)
      val out = Seq.newBuilder[Array[String]]
      var pages = r.readNextRowGroup()
      while (pages != null) {
        val rr = io.getRecordReader(pages, new GroupRecordConverter(fileSchema))
        var i = 0L
        while (i < pages.getRowCount) {
          val g = rr.read()
          out += idx.map(j =>
            if (j >= 0 && g.getFieldRepetitionCount(j) > 0) g.getString(j, 0)
            else null).toArray
          i += 1
        }
        pages = r.readNextRowGroup()
      }
      out.result()
    } finally r.close()
  }

  /** Row count of a parquet file, from its footer (for immutable files:
    * the footer is read in place, not the whole file). */
  def rowCount(file: Path): Long = {
    val r = ParquetFileReader.open(new LocalInputFile(file), readOptions)
    try r.getRecordCount finally r.close()
  }

  /** Write `rows` to `dir/name` through a temp file and an atomic
    * rename; an existing `name` is replaced. Creates `dir` and its
    * `_SUCCESS` marker when missing (after the data file is in place,
    * so a marked directory is never empty of its first file). */
  def write(dir: Path, name: String, cols: Seq[String],
            rows: Seq[Seq[String]]): Unit = {
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".$name.${java.util.UUID.randomUUID()}.tmp")
    val sch = schema(cols)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(tmp))
      .withConf(conf).withType(sch).build()
    try rows.foreach { row =>
      val g = new SimpleGroup(sch)
      row.zipWithIndex.foreach { case (v, i) => if (v != null) g.add(i, v) }
      w.write(g)
    } finally w.close()
    Files.move(tmp, dir.resolve(name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    val ok = dir.resolve("_SUCCESS")
    if (!Files.exists(ok))
      try Files.createFile(ok)
      catch { case _: java.nio.file.FileAlreadyExistsException => }
  }
}
