package graft.format

import org.apache.parquet.column.values.bloomfilter.{BlockSplitBloomFilter, BloomFilter}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.io.api.Binary

import scala.jdk.CollectionConverters._

/** Per-file Bloom filters on `image_id`, carried in manifest entries
  * ([[graft.model.DataFileEntry.idBlooms]]) and tested by
  * [[QTableFileIndex]] for id-equality predicates.
  *
  * Why: min/max id ranges prune point lookups well on freshly appended
  * (id-ordered) files, but a Z-order/Hilbert-clustered file is sorted by
  * zkey and spans most of the id domain — after maintenance, range stats
  * keep nearly every file in the lookup's bucket. A ~5 KB bloom per file
  * restores precise skipping, and because it rides IN the manifest, a
  * point lookup over a 10^12-row table stays pure in-memory metadata
  * work: zero file opens for pruned files (Iceberg reaches the same
  * point with puffin sidecars; inline is simpler at our entry sizes and
  * read on the driver only for the id-equality branch).
  *
  * Where the bits come from — no extra data scan, both paths read only
  * footer-adjacent metadata during the existing stats harvest:
  *  1. the file's OWN parquet bloom, written inline by the writer
  *     ([[TableWrite]] enables `parquet.bloom.filter.enabled#image_id`);
  *  2. parquet-mr deliberately SKIPS writing a bloom for a chunk whose
  *     pages are all dictionary-encoded (the dictionary already
  *     enumerates the distinct values) — typical for small early-life
  *     files — so the harvest rebuilds an equivalent bloom FROM the
  *     dictionary page. A chunk with non-dictionary pages and no bloom
  *     yields nothing (unknown = never pruned, sound).
  *
  * False positives only cost a wasted file read; false negatives are
  * impossible (membership of every written value is guaranteed by the
  * writer / the dictionary), so pruning is always sound.
  */
object BloomIndex {

  /** FPP for dictionary-rebuilt blooms; the writer-side parquet default
    * is also 0.01. */
  private val Fpp = 0.01

  /** Harvest the base64 bloom for one row group's image_id chunk, or None
    * when neither source is available. `reader` must be the open reader
    * the footer came from. */
  def harvest(reader: ParquetFileReader, block: BlockMetaData): Option[String] = {
    val col = block.getColumns.asScala.find(_.getPath.toDotString == "image_id")
      .getOrElse(return None)
    val own = Option(reader.getBloomFilterDataReader(block))
      .flatMap(r => Option(r.readBloomFilter(col)))
    val bf = own.orElse {
      val stats = col.getEncodingStats
      if (stats == null || stats.hasNonDictionaryEncodedPages) None
      else {
        // upcast: the concrete reader class is package-private, the
        // page-store interface is the public surface
        val store: org.apache.parquet.column.page.DictionaryPageReadStore =
          reader.getDictionaryReader(block)
        Option(store).flatMap { s =>
        val desc = reader.getFileMetaData.getSchema.getColumns.asScala
          .find(_.getPath.mkString(".") == "image_id")
        desc.flatMap(d => Option(s.readDictionaryPage(d)).map { page =>
          val dict = page.getEncoding.initDictionary(d, page)
          val n = dict.getMaxId + 1
          val filter = new BlockSplitBloomFilter(
            BlockSplitBloomFilter.optimalNumOfBits(n.toLong.max(1L), Fpp) / 8)
          var i = 0
          while (i <= dict.getMaxId) {
            filter.insertHash(filter.hash(dict.decodeToBinary(i)))
            i += 1
          }
          filter: BloomFilter
        })
        }
      }
    }
    bf.map { b =>
      val bos = new java.io.ByteArrayOutputStream(b.getBitsetSize)
      b.writeTo(bos)
      java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
    }
  }

  def decode(b64: String): BlockSplitBloomFilter =
    new BlockSplitBloomFilter(java.util.Base64.getDecoder.decode(b64))

  def mightContain(filter: BloomFilter, id: String): Boolean =
    filter.findHash(filter.hash(Binary.fromString(id)))
}
