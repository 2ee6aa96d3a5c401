package graft.fixtures

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.ext.{Multimodal, Text}

/** Deterministic document fixtures: HTML pages, conversations, and
  * gzip/tar/zip/WARC containers synthesized from the sf tables.
  */
object DocFixtures {

  /** The deterministic page shell shared by q145 and q147: title/style
    * head, nav, comment, a script whose body contains raw `<`/`>`,
    * entity-laden paragraphs, footer.
    */
  private[graft] def synthHtmlCol: org.apache.spark.sql.Column = synthHtmlWith(col("text"))

  private[graft] def synthHtmlWith(content: org.apache.spark.sql.Column): org.apache.spark.sql.Column = concat(
    lit("<html><head><title>Doc "), col("doc_id").cast("string"),
    lit("</title><style>p { color: red; }</style></head><body>"),
    lit("<nav>home about contact</nav><!-- rev "), col("doc_id").cast("string"),
    lit(" --><p>"), content, lit("</p>"),
    lit("<script>if (1 < 2 && 3 > 0) { x = \"y\"; }</script>"),
    lit("<p>Tom &amp; Jerry say &quot;hi&quot;, 1 &lt; 2, &#39;q&#39;, "),
    lit("A&nbsp;B, raw &amp;lt; stays</p>"),
    lit("<footer>(c) example corp</footer></body></html>"))

  /** Deterministic conversation fixture: each doc's tokens chunk into
    * 7-token turns with alternating user/assistant roles — an ordered
    * `array<struct<role, content>>` column, the chat data model.
    */
  private[graft] def synthConversations(spark: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id").as("conv_id"),
        transform(
          sequence(lit(0), ((size(toks) + 6) / 7).cast("int") - 1),
          i => struct(
            when(i % 2 === 0, lit("user")).otherwise(lit("assistant")).as("role"),
            concat_ws(" ", slice(toks, i * 7 + 1, lit(7))).as("content")))
          .as("turns"))
  }

  /** q225's corpus: [[synthConversations]] with the source lang kept,
    * plus planted EXACT conversation twins (every `doc_id % 10 == 3`
    * conversation re-appears verbatim under `conv_id + 10⁷`) — chat
    * corpora are notoriously duplicate-heavy and the exact tier needs
    * real duplicates to remove.
    */
  private[graft] def synthConvCorpus(spark: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    val base = Tables.documents(spark, dir)
      .select(col("doc_id").as("conv_id"), col("lang"),
        transform(
          sequence(lit(0), ((size(toks) + 6) / 7).cast("int") - 1),
          i => struct(
            when(i % 2 === 0, lit("user")).otherwise(lit("assistant")).as("role"),
            concat_ws(" ", slice(toks, i * 7 + 1, lit(7))).as("content")))
          .as("turns"))
    base.unionByName(
      base.filter(col("conv_id") % 10 === 3)
        .withColumn("conv_id", col("conv_id") + 10000000L))
  }

  /** q237 corpus: every document's UTF-8 bytes on the gzip wire in
    * four member/header configurations (dynamic; stored + FNAME +
    * FHCRC; fixed + FEXTRA; dynamic split into TWO concatenated
    * members — the WARC shape), with a planted trailer corruption
    * (`doc_id % 10 == 6`: one ISIZE byte flipped) that every member
    * verification path must catch.
    */
  private[graft] def synthGzipDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes = Option(text).getOrElse("")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val gz = (id % 4) match {
          case 0 => graft.ext.Gzip.compress(bytes)
          case 1 => graft.ext.Gzip.compress(bytes,
            deflateMode = graft.ext.Png.DeflateStored,
            fname = Some(s"doc_$id.txt"), fhcrc = true)
          case 2 => graft.ext.Gzip.compress(bytes,
            deflateMode = graft.ext.Png.DeflateFixed,
            fextra = Some(Array[Byte](7, 7)))
          case _ =>
            if (bytes.length >= 2)
              graft.ext.Gzip.compress(bytes, splitAt = Seq(bytes.length / 2))
            else graft.ext.Gzip.compress(bytes)
        }
        if (id % 10 == 6) gz(gz.length - 3) = (gz(gz.length - 3) ^ 0x20).toByte
        Multimodal.MediaRecord(id, gz, "application/gzip")
      }).toDF()
  }

  /** Shared packing scaffold for the archive-ingest corpora: 16 docs
    * per archive, members named `<doc_id>.txt` sorted by id; `pack`
    * turns one archive's entries into (payload, mime), planting its
    * format's corruption as it sees fit.
    */
  private def synthArchivedDocs(spark: SparkSession, dir: String)(
      pack: (Long, Seq[(String, Array[Byte])]) => (Array[Byte], String))
      : DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .groupByKey { case (id, _) => id / 16 }
      .mapGroups { (aid, docs) =>
        val entries = docs.toSeq.sortBy(_._1).map { case (id, text) =>
          s"$id.txt" -> Option(text).getOrElse("")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        }
        val (payload, mime) = pack(aid, entries)
        Multimodal.MediaRecord(aid, payload, mime)
      }.toDF().withColumnRenamed("media_id", "archive_id")
  }

  /** q258 corpus: documents packed 16-to-an-archive as `.tar.gz` —
    * the single most common wire a text corpus ships on. Member
    * names are `<doc_id>.txt`, members sort by id, and every archive
    * whose id ≡ 3 (mod 7) has one DEFLATE byte flipped — the gzip
    * CRC catches it and the WHOLE archive drops (archive-grain DLQ),
    * so membership of the output is itself corruption evidence.
    */
  private[graft] def synthTarGzArchives(spark: SparkSession, dir: String): DataFrame =
    synthArchivedDocs(spark, dir) { (aid, entries) =>
      // docs with id % 11 == 5 ship under a > 100-byte path — the
      // writer emits a pax `x` header for them and the reader must
      // restore the full name (real crawl tarballs bury members deep)
      val named = entries.map { case (name, data) =>
        val id = name.stripSuffix(".txt").toLong
        if (id % 11 == 5) ("deep/" + "x" * 92 + "/" + name) -> data
        else name -> data
      }
      val gz = graft.ext.Tar.archiveGz(named)
      if (aid % 7 == 3) gz(gz.length / 2) = (gz(gz.length / 2) ^ 0x10).toByte
      (gz, "application/tar+gzip")
    }

  /** q259 corpus: the q258 packing on the ZIP wire — and the plant
    * shows zip's member-grain recovery: archives with `aid % 5 == 2`
    * get ONE member's central-directory CRC flipped, so exactly that
    * member drops and its 15 siblings survive (tar loses the whole
    * archive to one bad byte; zip's per-member CRC loses one doc).
    */
  private[graft] def synthZipArchives(spark: SparkSession, dir: String): DataFrame =
    synthArchivedDocs(spark, dir) { (aid, entries) =>
      // uncorrupted archives with aid % 3 == 1 ship on the zip64 wire
      // (EOCD64 + locator + 0x0001 extras) — the shape any > 4 GiB or
      // > 64k-member crawl archive uses; the reader must resolve the
      // sentinels to the same member set
      val z =
        if (aid % 5 != 2 && aid % 3 == 1) graft.ext.Zip.archiveZip64(entries)
        else graft.ext.Zip.archive(entries)
      if (aid % 5 == 2) {
        // flip a byte of member 0's CENTRAL-directory CRC (the
        // authoritative one): drops that member, size-independent
        def u32(i: Int): Long =
          (z(i) & 0xffL) | ((z(i + 1) & 0xffL) << 8) |
            ((z(i + 2) & 0xffL) << 16) | ((z(i + 3) & 0xffL) << 24)
        val cd = u32(z.length - 22 + 16).toInt
        z(cd + 16) = (z(cd + 16) ^ 0x5a).toByte
      }
      (z, "application/zip")
    }

  /** q240 corpus: each document as a two-record WARC file (warcinfo
    * + a conversion record carrying the text, the WET shape) on
    * three wires — plain bytes, one gzip member, and the Common
    * Crawl one-record-per-member layout ([[graft.sources.Warc
    * .recordOffsets]] as the member split points).
    */
  private[graft] def synthWarcDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      // media-synth discipline: spread the encode leg across the cores
      .repartition(32)
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val recs = Seq(
          graft.sources.Warc.WarcRecord("warcinfo", "", "2026-01-01T00:00:00Z",
            "software: graft\r\n".getBytes(java.nio.charset.StandardCharsets.UTF_8)),
          graft.sources.Warc.WarcRecord("conversion",
            s"http://example.com/doc/$id", "2026-01-01T00:00:00Z",
            Option(text).getOrElse("")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        val bytes = graft.sources.Warc.build(recs)
        val payload = (id % 3) match {
          case 0 => bytes
          case 1 => graft.ext.Gzip.compress(bytes)
          case _ => graft.ext.Gzip.compress(bytes,
            splitAt = graft.sources.Warc.recordOffsets(recs).tail
              .filter(o => o > 0 && o < bytes.length))
        }
        Multimodal.MediaRecord(id, payload, "application/warc")
      }).toDF()
  }
}
