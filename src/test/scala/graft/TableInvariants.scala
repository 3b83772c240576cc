package graft

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{ChecksumFileSystem, Path}
import org.scalatest.Assertions._

/** Whole-table checks of an encoded table's latest snapshot, over every
  * block it makes visible:
  *  - each block's doc_ids are sorted and its first/last doc ids are their
  *    head and last;
  *  - n_docs, n_toks and n_tokens agree;
  *  - (part_id, block_id) is unique within the batch data, within each
  *    compacted run and within each stream batch;
  *  - every block lies inside its file's zone entry: its part in the
  *    entry's part span, its doc ids in the entry's doc_id span;
  *  - every entry of a dir that holds a named file is a named file or its
  *    `.crc`: no `_temporary`, no `_SUCCESS`, no unnamed `.parquet`;
  *  - every entry's stored size is its file's length;
  *  - each batch part's lineage equals the re-fold of its blocks
  *    ([[LineageOracle]]), and the stream lineage (part -1) equals the
  *    re-fold of the tail, or, once a compaction re-blocked the tail, keeps
  *    its doc, token and raw byte counts.
  */
object TableInvariants {
  def assertSound(spark: SparkSession, table: String): Unit = {
    val snap = ManifestIO.latest(spark, table).getOrElse(fail(s"no snapshot in $table"))
    val files = snap.files
    val enc = Encoders.product[EncodedBlock]
    val byPath = files.map(z => new Path(table, z.path).toUri.getPath -> z).toMap
    val blocks = ManifestIO.scanFiles(spark, table, snap, files).toDF()
      .select(struct(enc.schema.fieldNames.toIndexedSeq.map(col): _*).as("_1"),
        input_file_name().as("_2"))
      .as(Encoders.tuple(enc, Encoders.STRING)).collect()
      .map { case (b, file) => (b, byPath(new Path(file).toUri.getPath)) }

    val named = files.map(_.path).toSet
    val raw = ManifestIO.fs(spark, table) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }
    named.map(p => p.take(p.lastIndexOf('/'))).foreach { dir =>
      raw.listStatus(new Path(table, dir)).map(_.getPath.getName).foreach { n =>
        val data = if (n.startsWith(".") && n.endsWith(".crc")) n.drop(1).dropRight(4) else n
        assert(named(s"$dir/$data"), s"$dir/$n is in a dir of the snapshot but not named by it")
      }
    }
    files.foreach { z =>
      val len = raw.getFileStatus(new Path(table, z.path)).getLen
      assert(z.bytes == len, s"${z.path}: entry size ${z.bytes}, file length $len")
    }

    blocks.foreach { case (b, z) =>
      val at = s"${z.path} block (${b.part_id}, ${b.block_id})"
      assert(b.doc_ids.nonEmpty && b.doc_ids.sliding(2).forall {
        case Array(x, y) => DocIdOrder.lteq(x, y)
        case _ => true
      }, s"$at: doc_ids out of order")
      assert(b.first_doc_id == b.doc_ids.head && b.last_doc_id == b.doc_ids.last,
        s"$at: first/last doc ids are not the head and last of doc_ids")
      assert(b.n_docs == b.doc_ids.length && b.n_toks.length == b.n_docs &&
        b.sources.length == b.n_docs, s"$at: n_docs ${b.n_docs}, ${b.doc_ids.length} doc ids, " +
        s"${b.n_toks.length} n_toks")
      assert(b.n_tokens == b.n_toks.map(_.toLong).sum, s"$at: n_tokens ${b.n_tokens}")
      assert(b.part_id >= z.minPart && b.part_id <= z.maxPart,
        s"$at: part outside the entry's [${z.minPart}, ${z.maxPart}]")
      assert(DocIdOrder.lteq(z.first, b.first_doc_id) && DocIdOrder.lteq(b.last_doc_id, z.last),
        s"$at: doc ids outside the entry's [${z.first}, ${z.last}]")
    }

    blocks.groupBy { case (_, z) => if (z.isTail) z.path.split('/')(1) else z.root }
      .foreach { case (scope, bs) =>
        val ids = bs.map { case (b, _) => (b.part_id, b.block_id) }
        assert(ids.distinct.length == ids.length,
          s"$scope: ${ids.length} blocks, ${ids.distinct.length} distinct (part_id, block_id)")
      }

    def of(p: ZoneFile => Boolean) = ManifestIO.scanFiles(spark, table, snap, files.filter(p)).toDF()
    assert(snap.lineage.filter(_._1 >= 0) == LineageOracle.of(of(_.root == ManifestIO.DataRoot)),
      "batch lineage differs from the re-fold of the batch blocks")
    snap.lineage.get(-1).foreach { l =>
      if (snap.compactedRuns.isEmpty && snap.compactedBatchId.isEmpty)
        assert(l == LineageOracle.ofStream(of(_.isTail)), "stream lineage differs from the tail's")
      else {
        val s = LineageOracle.ofStream(of(_.root != ManifestIO.DataRoot))
        assert((l.n_docs, l.n_tokens, l.raw_bytes) == ((s.n_docs, s.n_tokens, s.raw_bytes)),
          s"stream lineage $l against runs and tail $s")
      }
    }
  }
}
