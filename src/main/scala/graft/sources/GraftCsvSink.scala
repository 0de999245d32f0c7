package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A from-scratch TRANSACTIONAL DataSource V2 sink — the write-side
  * twin of [[GraftSeqProvider]] (SURVEY §2 sinks tier). Every writer
  * task streams its partition to a UNIQUELY-NAMED staged CSV part
  * (`part-<epoch>-<task>-<uuid>.csv.staged`); only the driver-side
  * `commit` publishes, by renaming each staged part into place and
  * then linking a MANIFEST file that lists exactly the committed parts
  * — the same segments-plus-manifest protocol [[DatasetStore]] uses,
  * so readers that go through the manifest can never observe a torn
  * write: a crashed job leaves `.staged` orphans and NO manifest, a
  * speculative duplicate task's part is simply not named by the commit
  * message set that wins. `abort` deletes the staged parts.
  *
  * MANIFEST publication is link(2)-CAS'd per attempt (`MANIFEST.<n>`,
  * highest n wins at read), so two concurrent jobs writing the same
  * directory serialize instead of clobbering. Read back with
  * [[GraftCsvSink.readBack]] (manifest-driven file list).
  */
class GraftCsvSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType() // write-only source: schema comes from the query
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftCsvSinkTable(schema, properties.get("path"))
}

object GraftCsvSink {
  /** Files named by the HIGHEST committed manifest (empty if none). */
  def committedParts(dir: String): Seq[String] = {
    val d = new File(dir)
    val manifests = Option(d.list()).getOrElse(Array.empty)
      .filter(_.startsWith("MANIFEST."))
      .flatMap(n => n.stripPrefix("MANIFEST.").toLongOption.map(_ -> n))
    manifests.sortBy(_._1).lastOption.map { case (_, name) =>
      DatasetStore.readLines(new File(d, name)).map(p => new File(d, p).toString)
    }.getOrElse(Seq.empty)
  }

  /** Read the committed snapshot back (schema supplied by caller).
    * Reader options mirror what the writer emits: values are quoted
    * with doubled-quote escaping (`""`, RFC 4180) — Spark's default
    * escape is backslash, so `escape="` is required or an embedded
    * quote tears the row — and embedded newlines stay inside quotes,
    * so `multiLine` is required or they tear into spurious rows.
    * multiLine makes each part file non-splittable, which is the
    * right trade here: parallelism comes from the many per-task part
    * files, not from splitting one.
    */
  def readBack(spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: StructType): org.apache.spark.sql.DataFrame = {
    val parts = committedParts(dir)
    require(parts.nonEmpty, s"no committed manifest under $dir")
    spark.read.schema(schema)
      .option("multiLine", "true")
      .option("escape", "\"")
      .csv(parts: _*)
  }
}

private class GraftCsvSinkTable(tableSchema: StructType, path: String)
    extends Table with SupportsWrite {
  override def name(): String = s"graft_csv_sink($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new GraftCsvBatchWrite(path, info.schema())
      }
    }
}

private case class GraftCsvCommit(stagedName: String, rows: Long)
  extends WriterCommitMessage

private class GraftCsvBatchWrite(path: String, schema: StructType)
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftCsvWriterFactory(path, schema)

  /** Driver-side publish: rename the winning parts, then CAS the
    * manifest. Only parts named by THIS commit's messages publish —
    * a lost speculative duplicate stays `.staged` and is ignored by
    * every reader.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new File(path)
    dir.mkdirs()
    val parts = messages.map(_.asInstanceOf[GraftCsvCommit]).map { m =>
      val staged = new File(dir, m.stagedName)
      val fin = m.stagedName.stripSuffix(".staged")
      Files.move(staged.toPath, new File(dir, fin).toPath)
      fin
    }
    val manifest = parts.sorted.mkString("\n")
    var n = Option(dir.list()).getOrElse(Array.empty)
      .flatMap(_.stripPrefix("MANIFEST.").toLongOption).maxOption.getOrElse(0L) + 1
    while (!DatasetStore.claim(new File(dir, s"MANIFEST.$n"), manifest)) n += 1
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new File(path)
    messages.foreach {
      case GraftCsvCommit(staged, _) => new File(dir, staged).delete()
      case _ => ()
    }
  }
}

private class GraftCsvWriterFactory(path: String, schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val dir = new File(path)
      dir.mkdirs()
      private val name =
        s"part-${System.currentTimeMillis()}-$partitionId-$taskId-" +
          s"${java.util.UUID.randomUUID().toString.take(8)}.csv.staged"
      private val out = new java.io.BufferedWriter(new java.io.FileWriter(
        new File(dir, name), UTF_8))
      private var rows = 0L

      override def write(record: InternalRow): Unit = {
        val cells = schema.fields.indices.map { i =>
          val f = schema.fields(i)
          if (record.isNullAt(i)) ""
          else f.dataType match {
            case StringType =>
              val v = record.getUTF8String(i).toString
              "\"" + v.replace("\"", "\"\"") + "\""
            case dt => record.get(i, dt).toString
          }
        }
        out.write(cells.mkString(","))
        out.write("\n")
        rows += 1
      }
      override def commit(): WriterCommitMessage = { out.close(); GraftCsvCommit(name, rows) }
      override def abort(): Unit = { out.close(); new File(dir, name).delete() }
      override def close(): Unit = ()
    }
}
