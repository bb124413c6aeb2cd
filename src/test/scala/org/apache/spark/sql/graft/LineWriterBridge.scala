package org.apache.spark.sql.graft

import java.nio.file.Files

import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.FileFormat

/** Spec-side handle on `LineWriter` (`private[graft]`): `graft.WriterBytesSpec`
  * pins which writes take the byte writers and which rows they format.
  */
object LineWriterBridge {

  /** How many of `df`'s rows the byte writer of a write through `format`
    * with `options` formats itself, or None where the write is Spark's. */
  def hits(format: FileFormat, df: DataFrame, options: Map[String, String]): Option[Int] = {
    val spark = df.sparkSession
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = format.prepareWrite(spark, job, options + ("path" -> "unused"), df.schema)
    val dir = Files.createTempDirectory("graft-line-writer")
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    try factory.newInstance(dir.resolve("part").toString, df.schema, ctx) match {
      case w: LineWriter =>
        try Some(df.queryExecution.toRdd.map(_.copy()).collect().count(w.accepts))
        finally w.close()
      case w =>
        w.close()
        None
    } finally {
      Files.list(dir).forEach(p => Files.delete(p))
      Files.delete(dir)
    }
  }
}
