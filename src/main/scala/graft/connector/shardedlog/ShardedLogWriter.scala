package graft.connector.shardedlog

import java.nio.file.{Files, Paths}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Keyed batch writes into sharded-log streams (≙ the consumer's
  * `PutRecord(..., PartitionKey=session_id)`, consumer.py:160-171, and the
  * reference's per-key ordering contract, README.md:244-256).
  *
  * Scale design: one write fans a batch out to several destinations — the
  * shards of several streams plus optional [[FileChannel]]s — in one pass.
  * Every row gets one target (a destination stream's shard, or a file of a
  * file channel); rows are repartitioned ONCE by target, so exactly one
  * task appends to each (stream, shard) — single-writer discipline, no
  * cross-task interleaving — and exactly one task writes each file. Within
  * the partition rows are sorted by the caller's order columns (source
  * shard + sequence number), which preserves per-key arrival order
  * end-to-end. One shuffle, one job, append-only IO.
  */
object ShardedLogWriter {

  /** A file destination of a multi-destination [[write]]: rows whose
    * destination is `name` skip shard placement; the rows of each value of
    * `by` become one file `dir/fileName(value)`, one line per row in the
    * order columns' order. A file is written whole to a dot-prefixed temp
    * file (invisible to Spark's file readers) and moved into place with
    * `ATOMIC_MOVE, REPLACE_EXISTING`, so a retried task, or a replayed batch
    * that yields the same name, replaces the file instead of adding a copy.
    */
  final case class FileChannel(name: String, dir: String, by: Column,
      fileName: String => String)

  /** Catalyst twin of [[ShardedLog.shardFor]] — same md5 hash-range split,
    * so Spark-side writes and driver-side `putRecord` agree on placement.
    * The 60-bit × numShards product must stay in a signed long: numShards
    * ≤ 8 (the reference uses 2).
    */
  def shardIndexCol(key: Column, numShards: Int): Column = {
    require(numShards > 0 && numShards <= 8,
      s"numShards must be in [1,8], got $numShards")
    shiftright(
      conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("long")
        * numShards, 60)
  }

  /** Catalyst twin of [[ShardedLog.openShardFor]]: route each key's 60-bit
    * md5 hash to the OPEN shard whose range contains it — a small CASE
    * chain over the (driver-read) shard metadata, so writes honor
    * resharding lineage exactly like driver-side `putRecord`. On a
    * never-resharded stream this is placement-identical to
    * [[shardIndexCol]].
    */
  def shardNameCol(key: Column, meta: Seq[ShardedLog.ShardInfo]): Column = {
    val open = meta.filter(_.open).sortBy(_.start)
    require(open.nonEmpty, "stream has no open shards")
    val h = conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("long")
    open.init.foldRight(lit(open.last.name): Column)((si, rest) =>
      when(h < si.endEx, lit(si.name)).otherwise(rest))
  }

  /** Write `batch` into the stream at `streamDir`. `orderWithinKey` should
    * be the upstream ordering columns (e.g. source shard, sequence_number);
    * rows for the same partition key are appended in that order. Writes
    * route only to OPEN shards (closed reshard parents take no records).
    */
  def write(batch: DataFrame, streamDir: String, keyCol: Column,
      dataCol: Column, orderWithinKey: Seq[Column] = Nil): Unit =
    write(batch, lit(""), Map("" -> streamDir), Nil, keyCol, dataCol,
      orderWithinKey)

  /** Write each row of `batch` to the destination `destCol` names: a stream
    * of `streams` (destination → stream dir), placed by `keyCol` as in the
    * one-stream [[write]], or a file channel of `files`. A destination that
    * is neither fails the write. One job: one exchange into as many
    * partitions as the streams have open shards, one sort, one
    * `foreachPartition` that appends each target's run.
    */
  def write(batch: DataFrame, destCol: Column, streams: Map[String, String],
      files: Seq[FileChannel], keyCol: Column, dataCol: Column,
      orderWithinKey: Seq[Column]): Unit = {
    val names = streams.keys.toSeq ++ files.map(_.name)
    require(names.distinct.size == names.size, s"destination names must be distinct: $names")
    // a row's target: "<destination>/<shard or file group>", or the bare
    // shard name for the one-stream write's unnamed destination
    def target(dest: String, part: String) = if (dest.isEmpty) part else s"$dest/$part"
    val metas = streams.toSeq.map { case (dest, dir) =>
      val meta = ShardedLog.shardMeta(dir)
      require(meta.exists(_.open), s"stream $dir does not exist / has no open shards")
      (dest, dir, meta)
    }
    val shardOf = (for ((dest, dir, meta) <- metas; si <- meta if si.open)
      yield target(dest, si.name) -> (dir, si.name)).toMap
    val branches = metas.map { case (dest, _, meta) =>
      dest -> shardNameCol(keyCol, meta.map(si => si.copy(name = target(dest, si.name))))
    } ++ files.map(f => f.name -> concat(lit(target(f.name, "")), f.by.cast("string")))
    val targetCol = branches.foldRight(
      raise_error(concat(lit("no destination named "), destCol.cast("string"))))(
      (b, rest) => when(destCol === b._1, b._2).otherwise(rest))
    val fileOf = files.map(f => (target(f.name, ""), f.dir, f.fileName))

    val prepared = batch.select(
      (Seq(keyCol.cast("string").as("__key"),
        dataCol.cast("binary").as("__data"),
        targetCol.as("__shard")) ++ orderWithinKey): _*)
    val sorted = prepared
      .repartition(shardOf.size, col("__shard"))
      .sortWithinPartitions((col("__shard") +: orderWithinKey): _*)
    sorted.foreachPartition { rows: Iterator[Row] =>
      val buffers = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(String, Array[Byte], Long)]]
      val now = System.currentTimeMillis()
      rows.foreach { r =>
        val shard = r.getAs[String]("__shard")
        buffers.getOrElseUpdate(shard, mutable.ArrayBuffer.empty) +=
          ((r.getAs[String]("__key"), r.getAs[Array[Byte]]("__data"), now))
      }
      buffers.foreach { case (t, recs) =>
        shardOf.get(t) match {
          case Some((dir, shard)) => ShardedLog.appendLines(dir, shard, recs.toSeq)
          case None =>
            val (prefix, dir, fileName) = fileOf.find(f => t.startsWith(f._1)).get
            replaceFile(dir, fileName(t.substring(prefix.length)), recs.map(_._2))
        }
      }
    }
  }

  /** Write `lines` as the file `dir/name` in one atomic replace. */
  private def replaceFile(dir: String, name: String, lines: Iterable[Array[Byte]]): Unit = {
    val d = Files.createDirectories(Paths.get(dir))
    val tmp = Files.createTempFile(d, ".", ".tmp")
    try {
      val out = new java.io.BufferedOutputStream(Files.newOutputStream(tmp))
      try lines.foreach { l => out.write(l); out.write('\n') } finally out.close()
      Files.move(tmp, d.resolve(name), ATOMIC_MOVE, REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }
}
