package org.apache.spark.sql.graft

import java.io.OutputStreamWriter
import java.nio.charset.Charset
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}

/** A report-sized frame written as CSV from the driver, byte for byte
  * what `df.coalesce(1).write.mode("overwrite").options(options)
  * .csv(dir)` writes: the rows go through Spark's own CSV generator
  * (`UnivocityGenerator` over the `CSVOptions` Spark's CSV writer
  * builds, so the session time zone applies) into one
  * `part-00000-<uuid>-c000.csv`, then the `_SUCCESS` marker, each with
  * its Hadoop checksum file. `dir` is replaced, as the overwrite mode
  * replaces it. The rows are collected from the executed plan, so a
  * frame over a local relation is written with no Spark job
  * (`UnivocityGenerator` and the session state are private[sql], hence
  * this bridge). Compression options are not supported.
  */
object DriverCsv {
  def write(df: DataFrame, dir: String, options: Map[String, String]): Unit = {
    val ds = df.asInstanceOf[ClassicDataset[_]]
    val state = ds.sparkSession.sessionState
    val conf = state.conf
    val csv = new CSVOptions(options, conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    require(csv.compressionCodec.isEmpty,
      s"DriverCsv writes uncompressed CSV only: $options")
    val rows = ds.queryExecution.executedPlan.executeCollect()
    val out = new Path(dir)
    val fs = out.getFileSystem(state.newHadoopConfWithOptions(options))
    if (fs.exists(out)) fs.delete(out, true)
    fs.mkdirs(out)
    val part = new Path(out,
      s"part-00000-${UUID.randomUUID()}-c000.${csv.extension}")
    val writer = new OutputStreamWriter(fs.create(part, false),
      Charset.forName(csv.charset))
    val gen = new UnivocityGenerator(ds.schema, writer, csv)
    try {
      if (csv.headerFlag) gen.writeHeaders()
      rows.foreach(gen.write)
    } finally gen.close()
    fs.create(new Path(out, "_SUCCESS"), false).close()
  }
}
