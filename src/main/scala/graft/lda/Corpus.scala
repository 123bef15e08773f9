package graft.lda

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus construction: sources → `Dataset[DocState]` (S1/S2/S3 + V1/V2 of
  * SURVEY.md §2.2).
  *
  * Scale notes: tokenize/explode is shuffle-free; the bag-of-words groupBy
  * shuffles once on (doc_id); the dictionary rewrite broadcasts the vocab
  * (V ≪ corpus — the reference's NYTimes run has V=102,660 against 100M
  * tokens). Random topic init is seeded per docId, so the built corpus is
  * identical under any partitioning.
  */
object Corpus {

  /** Sorted-vocabulary build (V2, mpi_lda.cc:197-207): distinct tokens,
    * rank in UTF-8 byte order (= Spark SQL's string collation) as dense
    * id. Default vocabulary semantics (the deterministic one — SURVEY §2.2
    * quirk #3).
    *
    * The dense rank comes from `sortBy + zipWithIndex`: no
    * single-partition WindowExec anywhere, so a 100M-type vocab never
    * funnels through one task (zipWithIndex runs one extra job to count
    * partition sizes; ranges stay distributed). Word ids remain Int (the
    * `DocState`/model layout bound): V beyond Int.MaxValue fails fast
    * rather than wrapping. The window form is kept as
    * [[sortedVocabWindowed]] for fixture-scale parity tests. */
  def sortedVocab(tokens: DataFrame): DataFrame = {
    val spark = tokens.sparkSession
    import spark.implicits._
    tokens.select("tok").distinct().as[String].rdd
      .sortBy(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))(unsignedBytes, implicitly)
      .zipWithIndex()
      .map { case (t, i) =>
        require(i <= Int.MaxValue, s"vocabulary exceeds Int word-id space at '$t'")
        (t, i.toInt)
      }
      .toDF("tok", "word_id")
  }

  /** Window-ranked variant of [[sortedVocab]] — identical (tok, word_id)
    * mapping, but the dense rank is a global `row_number` window, i.e. the
    * whole distinct set passes through ONE task. Fixture/parity use only;
    * never the default (the q18 single-partition anti-pattern). */
  def sortedVocabWindowed(tokens: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    tokens.select("tok").distinct()
      .withColumn("word_id", row_number().over(Window.orderBy("tok")) - 1)
  }

  /** Unsigned byte-array order = UTF-8/code-point order = Spark SQL's
    * string collation. Java's natural String ordering compares UTF-16
    * code units, which sorts supplementary-plane tokens (surrogates
    * 0xD800+) BELOW U+E000..U+FFFF — diverging from `orderBy("tok")` for
    * e.g. emoji. Sorting keys by pre-encoded bytes (one encode per
    * record, via sortBy's keyBy) rather than re-encoding inside a
    * String comparator (two allocations per comparison). */
  private[graft] val unsignedBytes: Ordering[Array[Byte]] =
    (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.compareUnsigned(x, y)

  /** First-seen-order vocabulary (V1, lda.cc:70-77) — parity mode for the
    * reference's single-node binary. Requires (doc_id, pos)-ordered input;
    * id = rank of first (doc_id, pos) appearance.
    *
    * Same two-job distributed ranking as [[sortedVocab]] (the first
    * appearance per token is a proper parallel groupBy; the dense rank is
    * sortBy+zipWithIndex on the tiny distinct set) — no single-partition
    * WindowExec in this path either. */
  def firstSeenVocab(tokensWithPos: DataFrame): DataFrame = {
    val spark = tokensWithPos.sparkSession
    import spark.implicits._
    tokensWithPos
      .groupBy("tok")
      .agg(min(struct(col("doc_id").cast("long").as("d"),
        col("pos").cast("long").as("p"))).as("first"))
      .select(col("tok"), col("first.d"), col("first.p"))
      .as[(String, Long, Long)].rdd
      .sortBy(t => (t._2, t._3))
      .zipWithIndex()
      .map { case ((t, _, _), i) =>
        require(i <= Int.MaxValue, s"vocabulary exceeds Int word-id space at '$t'")
        (t, i.toInt)
      }
      .toDF("tok", "word_id")
  }

  /** documents(doc_id, text) → token occurrences (doc_id, pos, tok). */
  def tokenize(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
        posexplode(graft.ext.Dedup.tokens(col("text"))).as(Seq("pos", "tok")))

  /** Bag-of-words with dense word ids: tokens ⋈ vocab (broadcast), grouped.
    * Drops OOV tokens (the semi-join semantics of infer.cc:77-80 when the
    * vocab comes from a frozen model). */
  def bagOfWords(tokens: DataFrame, vocab: DataFrame): DataFrame =
    tokens.join(broadcast(vocab), "tok")
      .groupBy("doc_id", "word_id").agg(count(lit(1)).as("c"))

  /** (doc_id, word_id, c) → Dataset[DocState] with seeded random topics.
    * Empty docs vanish naturally (no rows), matching mpi_lda.cc:142-144. */
  def fromBow(bow: DataFrame, numTopics: Int, seed: Long): Dataset[DocState] = {
    val spark = bow.sparkSession
    import spark.implicits._
    bow.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("word_id").cast("int").as("w"),
        col("c").cast("int").as("c")))).as("wcs"))
      .select(col("doc_id"), col("wcs.w").as("ws"), col("wcs.c").as("cs"))
      .as[(Long, Array[Int], Array[Int])]
      .map { case (docId, ws, cs) => DocState.init(docId, ws, cs, numTopics, seed) }
  }

  /** Token occurrences with dense ids → Dataset[DocState], ONE shuffle.
    * Fuses [[bagOfWords]]'s (doc, word) count-groupBy and [[fromBow]]'s
    * per-doc collect into a single groupByKey(doc_id): the (w,c) CSR is
    * tallied and word-sorted inside `mapGroups`, so the bag-of-words
    * intermediate never shuffles separately. Identical DocStates to the
    * two-step path (same sorted arrays → same RNG consumption order). */
  def fromTokenIds(tokIds: DataFrame, numTopics: Int, seed: Long): Dataset[DocState] = {
    val spark = tokIds.sparkSession
    import spark.implicits._
    tokIds.select(col("doc_id").cast("long"), col("word_id").cast("int"))
      .as[(Long, Int)]
      .groupByKey(_._1)
      .mapGroups { (docId, it) =>
        val counts = scala.collection.mutable.HashMap.empty[Int, Int]
        it.foreach { case (_, w) => counts(w) = counts.getOrElse(w, 0) + 1 }
        val ws = counts.keysIterator.toArray
        java.util.Arrays.sort(ws)
        val cs = ws.map(counts)
        DocState.init(docId, ws, cs, numTopics, seed)
      }
  }

  /** Full pipeline: documents(doc_id, text) → (corpus, vocab). */
  def fromDocuments(documents: DataFrame, numTopics: Int, seed: Long): (Dataset[DocState], DataFrame) = {
    val toks = tokenize(documents)
    val vocab = sortedVocab(toks)
    (fromTokenIds(toks.join(broadcast(vocab), "tok").select("doc_id", "word_id"),
      numTopics, seed), vocab)
  }

  /** Kept (non-empty, non-comment) lines with their file line number —
    * the ONE definition of the plda line filter (lda.cc:57-60), shared by
    * [[readPldaText]] and `InferApp`'s fold-in, so the positional doc-id
    * contract can never desynchronize between them. Partitions follow
    * file order. */
  private[graft] def pldaKeptLines(spark: SparkSession, path: String): RDD[(String, Long)] =
    spark.read.textFile(path).rdd
      .zipWithIndex()
      .filter { case (line, _) =>
        line.nonEmpty && line(0) != '#' && line(0) != '\r' && line(0) != '\n'
      }

  /** The `word count` pairs of one kept plda line (A1 grammar,
    * lda.cc:61-84), in line order, duplicates kept: counts that are not
    * a positive Int are dropped, and a trailing unpaired token is ignored
    * like `ss >> word >> count` stopping at EOF. */
  private[graft] def pldaPairs(line: String): Iterator[(String, Int)] = {
    val parts = ModelIO.fields(line)
    Iterator.range(0, parts.length / 2 * 2, 2).flatMap { i =>
      val cnt = try parts(i + 1).toInt catch { case _: NumberFormatException => 0 }
      if (cnt > 0) Some((parts(i), cnt)) else None
    }
  }

  /** plda text-line corpus (A1 grammar: `word1 cnt1 word2 cnt2 …`; skip
    * empty/#/CR lines — lda.cc:56-84). doc_id = line number in file order. */
  def readPldaText(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    pldaKeptLines(spark, path)
      .flatMap { case (line, docId) => pldaPairs(line).map { case (w, c) => (docId, w, c) } }
      .toDF("doc_id", "tok", "c")
  }

  /** UCI bag-of-words (A4, testdata/format.py:5-31): docword triples joined
    * with 1-based vocab line numbers. Returns (doc_id, tok, c). */
  def readUci(spark: SparkSession, docwordPath: String, vocabPath: String): DataFrame = {
    import spark.implicits._
    val triples = spark.read.textFile(docwordPath).rdd
      .zipWithIndex()
      .filter(_._2 >= 3) // skip D, W, NNZ header lines
      .map { case (line, _) =>
        val p = line.trim.split("\\s+")
        (p(0).toLong, p(1).toInt, p(2).toInt)
      }
      .toDF("doc_id", "uci_id", "c")
    val vocab = spark.read.textFile(vocabPath).rdd
      .zipWithIndex()
      .map { case (w, i) => (i.toInt + 1, w) }
      .toDF("uci_id", "tok")
    triples.join(broadcast(vocab), "uci_id").select("doc_id", "tok", "c")
  }
}
