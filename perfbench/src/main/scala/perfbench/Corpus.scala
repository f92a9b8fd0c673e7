package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.Tables
import graft.ops.{Dedup, Graphs, Joins, Retrieval}

/** `corpus`: the extension operators on a seeded `documents` table and a
  * `customer` table, written as parquet during set-up and read through
  * `graft.io.Tables` on every call. It covers the ad-hoc and served BM25
  * twins, both MinHash families (xxhash64 and the portable md5 one), and
  * the slowest families (prefix Jaccard, edit-distance ER plus connected
  * components). A change to the paper core should read "no change" here.
  *
  * The seed picks one of [[Variants]] variants; the variant drives every
  * generator (tables, query texts, the offset of the near-dup slice), so
  * each variant's output digests can be recorded once and checked on every
  * run.
  */
final class Corpus(seed: Long, work: String, docs: Int, customers: Int) extends Workload {
  import Corpus._

  val variant: Int = java.lang.Math.floorMod(seed, Variants.toLong).toInt
  private var dir: String = _
  private var index: String = _
  private val r = Workload.rng(variant, 7)
  private val sliceStart = r.nextInt(docs - SliceDocs + 1)
  /** Three queries, each one word from the head, the middle and the tail
    * of the skewed vocabulary, so every variant's queries touch postings of
    * similar total size. */
  private val queries = (1 to 3).map { q =>
    val words = Seq(r.nextInt(8), 8 + r.nextInt(16), 24 + r.nextInt(Vocab.size - 24)).map(Vocab)
    (q.toLong, words.mkString(" "))
  }

  def setup(spark: SparkSession, rep: Int): Unit = {
    dir = s"$work/corpus-$rep"
    genDocuments(spark, variant, docs).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    genCustomers(spark, variant, customers).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    index = s"$dir/bm25-index"
    Retrieval.saveBm25Index(Tables.table(spark, dir, "documents"), "doc_id", "text", index,
      numBuckets = 32)
  }

  private def queryFrame(spark: SparkSession): DataFrame =
    spark.createDataFrame(queries.map { case (id, t) => Row(id, t) }.asJava,
      StructType(Seq(StructField("qid", LongType, false), StructField("qtext", StringType))))

  /** (call name, kind, input rows, operator call). `single` marks the
    * retrieval calls, which answer each query with one ranked list;
    * `staged` the join calls, which generate candidate pairs and then
    * verify them (edit-distance pairs then feed connected components).
    * Grouping by family keeps each kind's median among related operators. */
  private def ops: Seq[(String, String, Long, SparkSession => DataFrame)] = Seq(
    ("Retrieval.bm25", "single", docs.toLong, s =>
      Retrieval.bm25Search(Tables.table(s, dir, "documents"), "doc_id", "text",
        queryFrame(s), "qid", "qtext", topK = 10)),
    ("Retrieval.bm25_served", "single", docs.toLong, s =>
      Retrieval.bm25SearchPreindexed(s, index, queryFrame(s), "qid", "qtext", topK = 10)),
    ("Retrieval.prf", "single", docs.toLong, s =>
      Retrieval.bm25SearchPrf(Tables.table(s, dir, "documents"), "doc_id", "text",
        queryFrame(s), "qid", "qtext", topK = 10, fbDocs = 5, fbTerms = 3, minTermLen = 3)),
    ("Dedup.minhash", "staged", SliceDocs.toLong, s =>
      Dedup.minhashNearDupPairs(slice(s), "text", "doc_id", threshold = 0.5)),
    ("Dedup.poly_minhash", "staged", SliceDocs.toLong, s =>
      Dedup.polyMinhashNearDupPairs(slice(s), "text", "doc_id", threshold = 0.5)),
    ("Dedup.prefix_jaccard", "staged", docs.toLong, s =>
      Dedup.prefixJaccardJoin(Tables.table(s, dir, "documents"), "text", "doc_id",
        threshold = 0.5, ngram = 3)),
    ("Graphs.er_cc", "staged", customers.toLong, { s =>
      val c = Tables.table(s, dir, "customer")
        .select(col("c_nationkey").as("nationkey"), col("c_custkey"), col("c_name"))
      val pairs = Joins.editDistanceSelfJoin(c, Seq("nationkey"), "c_custkey", "c_name",
        maxDist = 1)
      Graphs.connectedComponents(pairs, "id_a", "id_b")
    }))

  private def slice(s: SparkSession): DataFrame =
    Tables.table(s, dir, "documents")
      .filter(col("doc_id") >= sliceStart && col("doc_id") < sliceStart + SliceDocs)

  private var recorded = Map.empty[String, String]
  private var lastRows = Map.empty[String, Array[Row]]

  /** Each call collects its result; the digest is taken in `verify`, after
    * timing. */
  def calls: Seq[Call] = ops.map { case (name, kind, n, op) =>
    Call(name, kind, n, { tr =>
      val rows = tr.span(name, name) {
        val spark = SparkSession.active
        op(spark).collect()
      }
      lastRows += name -> rows
      Done(() => (), () => {
        val d = Check.textDigest(rows)
        recorded.get(name) match {
          case Some(want) if want == d => None
          case Some(want) => Some(s"digest $d, recorded $want")
          case None => Some(s"no recorded digest for variant $variant")
        }
      })
    })
  }

  def nominalPassS: Double = 10.0

  /** Loads the digests recorded for this variant. */
  def loadRecorded(path: String): Unit = {
    val all = readDigests(path)
    recorded = all.getOrElse(s"v$variant", Map.empty)
  }

  /** The digests of the most recent pass, for recording. */
  def digests: Map[String, String] = lastRows.map { case (k, rows) => k -> Check.textDigest(rows) }

  def selfTests(spark: SparkSession): Seq[(String, Boolean)] = {
    val rows = lastRows.values.find(_.nonEmpty).get
    val first = rows.head.toSeq.toArray
    first(first.length - 1) = first.last match {
      case d: java.lang.Double => d + 1e-3
      case l: java.lang.Long => l + 1L
      case i: java.lang.Integer => i + 1
      case other => s"$other!"
    }
    val perturbed = Row.fromSeq(first.toSeq) +: rows.tail
    Seq(
      "corpus.recorded_digests_present" -> (recorded.size == ops.size),
      "corpus.perturbed_row_changes_digest" ->
        (Check.textDigest(perturbed) != Check.textDigest(rows)),
      "corpus.row_order_ignored" -> (Check.textDigest(rows.reverse) == Check.textDigest(rows)))
  }
}

object Corpus {
  val Variants = 8
  val SliceDocs = 1000

  val Vocab: IndexedSeq[String] = ("the a fast slow key order sort table scan merge part window " +
    "small big hash join batch stream spark group query row data filter customer line " +
    "value agg column vector index shard cache plan stage task frame schema record " +
    "token score rank bid tender price offer lot award supplier review quality").split(" ").toIndexedSeq

  /** Documents of 8-60 words drawn with a skew toward the head of the
    * vocabulary; every tenth document copies the one seven places before
    * it with a few words replaced, so the near-duplicate operators find a
    * similar number of pairs in every variant. */
  def genDocuments(spark: SparkSession, variant: Int, n: Int): DataFrame = {
    val r = Workload.rng(variant, 11)
    def word(): String = Vocab(math.min(Vocab.size - 1, (math.abs(r.nextGaussian()) * Vocab.size / 2.5).toInt))
    val texts = new Array[Array[String]](n)
    (0 until n).foreach { i =>
      texts(i) =
        if (i % 10 == 9) {
          val src = texts(i - 7).clone()
          (0 until math.max(1, src.length / 12)).foreach(_ => src(r.nextInt(src.length)) = word())
          src
        } else Array.fill(8 + r.nextInt(53))(word())
    }
    val rows = (0 until n).map { i =>
      val t = texts(i).mkString(" ")
      Row(i.toLong, t, Seq("en", "es", "de", "zh")(i % 4), s"src${i % 7}", t.length.toLong)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("doc_id", LongType, false), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
  }

  /** TPC-H-style customers: `Customer#%09d` names (one edit apart for keys
    * one digit apart), seeded nation keys and balances. */
  def genCustomers(spark: SparkSession, variant: Int, n: Int): DataFrame = {
    val r = Workload.rng(variant, 13)
    val rows = (0 until n).map { i =>
      Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), math.round(r.nextDouble() * 1000000) / 100.0,
        Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")(r.nextInt(5)))
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("c_custkey", LongType, false), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))))
  }

  def readDigests(path: String): Map[String, Map[String, String]] = {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(f, classOf[java.util.Map[String, java.util.Map[String, String]]])
      m.asScala.map { case (k, v) => k -> v.asScala.toMap }.toMap
    }
  }

  def writeDigests(path: String, all: Map[String, Map[String, String]]): Unit = {
    val body = all.toSeq.sortBy(_._1).map { case (v, ds) =>
      ds.toSeq.sortBy(_._1).map { case (k, d) => s"""    "$k": "$d"""" }
        .mkString(s"""  "$v": {\n""", ",\n", "\n  }")
    }.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), body.getBytes("UTF-8"))
  }
}
