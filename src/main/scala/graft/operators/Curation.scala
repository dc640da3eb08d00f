package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.{GraftQuery, Tables}
import graft.GraftQuery.sql
import graft.functions.WordShingles.word_ngrams
import graft.TempDirs.tempDir

/** Data-curation operators — the filtering/sampling/packing layer a
  * training-data pipeline runs between raw text and the tokenizer:
  * PII redaction, repetition-based quality signals (the Gopher-rule
  * family), deterministic stratified sampling, and capacity-bounded
  * sequence packing.
  *
  * Scale design notes:
  *  - PII redaction and sampling are pure per-row projections/filters
  *    — single parquet scan, no shuffle, embarrassingly parallel.
  *  - Repetition signals use the explode → hash-aggregate shape (one
  *    shuffle on doc_id, map-side combine) rather than per-row
  *    interpreted array HOFs — the measured O(n²)-inlining trap from
  *    round 1 ([[graft.functions.WordShingles]] scaladoc).
  *  - Packing is greedy-sequential PER BOUNDED BUCKET (lang,
  *    doc_id-range): each task packs an id-range it can hold in
  *    memory, bins never cross buckets, so the operator stays
  *    embarrassingly parallel at corpus scale instead of serializing
  *    the whole corpus through one task.
  */
object Curation {

  // ---- PII synthesis + redaction -------------------------------------
  // The synthetic corpus carries no PII, so the query plants
  // deterministic email/phone/IP strings derived from doc_id and then
  // redacts them: the oracle checks the regex machinery end-to-end on
  // text where every pattern actually fires.
  private val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phonePat = "\\+[0-9]{1,2} [0-9]{3}-[0-9]{3}-[0-9]{4}"
  private val ipPat = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  // ---- deterministic sampling ----------------------------------------
  // keep iff the first 4 hex chars of md5(doc_id:lang) sort below the
  // language's threshold — a portable, engine-independent coin flip
  // (string comparison of hex, no integer parsing): '8000' keeps
  // 0x8000/0x10000 = 50%.
  private val sampleRates = Seq("en" -> "8000", "fr" -> "c000", "es" -> "4000", "de" -> "2000")

  // ---- sequence packing ----------------------------------------------
  private val packCapacity = 128L // tokens per packed sequence
  private val packBucket = 200L   // doc_ids per packing task (bounded memory)

  // NOT private: the Dataset encoder's generated code must reach them
  final case class PackIn(lang: String, bucket: Long, doc_id: Long, n_tokens: Long)
  final case class PackOut(doc_id: Long, lang: String, bucket: Long,
                           bin: Long, n_tokens: Long)

  /** The BM25 statement parameterized by its query-term set — ONE
    * oracle text shape shared by the batch entry, its maintained twin,
    * and both halves of the full-vocabulary twin's two-query read. */
  private[graft] def bm25OracleSqlFor(terms: Seq[String]): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH d2 AS (
        | SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents) z),
        |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |              CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM d2),
        |tf AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        |  SELECT doc_id, dl, unnest(toks) AS term FROM d2) u
        | WHERE term IN ($inList) GROUP BY doc_id, dl, term),
        |df AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS dfd FROM tf GROUP BY term),
        |c AS (SELECT tf.doc_id,
        |  CAST(FLOOR((st.n - df.dfd + 0.5) / (df.dfd + 0.5)
        |    * ((CAST(tf.tf AS DOUBLE) * 2.2) / (CAST(tf.tf AS DOUBLE)
        |        + 1.2 * (0.25 + 0.75 * (CAST(tf.dl AS DOUBLE) / st.avgdl))))
        |    * 1000000000 + 0.5) AS BIGINT) AS cq
        | FROM tf JOIN df ON df.term = tf.term, st)
        |SELECT doc_id, CAST(SUM(cq) AS DOUBLE) / 1000000000 AS score
        |FROM c GROUP BY doc_id
        |ORDER BY SUM(cq) DESC, doc_id LIMIT 20""".stripMargin
  }

  private[graft] val bm25QueryTerms = Seq("join", "filter", "window")
  /** A second, AD-HOC query-term set for the full-vocabulary
    * maintained entry — chosen at read time, after the changelog. */
  private[graft] val bm25QueryTerms2 = Seq("scan", "merge", "stream")

  private lazy val bm25OracleSql: String = bm25OracleSqlFor(bm25QueryTerms)

  /** BM25 state persisted as a lakehouse INVERTED INDEX — see the
    * `text_bm25_persist` registration comment for the table layout.
    * The ONE BM25 state implementation: the persisted entry proves the
    * restart story on it, and the full-vocabulary maintained entry is
    * a READ over the same index (affected-terms point lookups, df from
    * the postings rows) instead of a parallel in-JVM tf/df state. */
  private[graft] final class Bm25Index {
    import graft.sources.SnapshotLog
    val postRoot: String = tempDir("graft_bm25_post").toString
    val docsRoot: String = tempDir("graft_bm25_docs").toString
    val statsRoot: String = tempDir("graft_bm25_stats").toString
    private type S = org.apache.spark.sql.SparkSession
    def latest(root: String): Int =
      SnapshotLog.history(root).map(_._1).maxOption.getOrElse(-1)
    def postState(s: S): Option[DataFrame] = {
      val v = latest(postRoot)
      if (v < 0) None
      else Some(SnapshotLog.readVersion(s, postRoot, v)
        .select(col("term_hash"), col("term"), col("df"), col("postings")))
    }
    def docState(s: S): Option[DataFrame] = {
      val v = latest(docsRoot)
      if (v < 0) None
      else Some(SnapshotLog.readVersion(s, docsRoot, v)
        .select(col("doc_id"), col("dl"), col("terms")))
    }
    def statsOf(s: S): (Long, Long) = {
      val v = latest(statsRoot)
      if (v < 0) (0L, 0L)
      else {
        val r = SnapshotLog.readVersion(s, statsRoot, v)
          .select(col("n"), col("tot_dl")).head()
        (r.getLong(0), r.getLong(1))
      }
    }
    def commitStats(s: S, n: Long, totDl: Long): Unit = {
      import s.implicits._
      val row = Seq((0L, n, totDl)).toDF("k", "n", "tot_dl")
      val v = latest(statsRoot)
      if (v < 0) SnapshotLog.commitInitial(row, statsRoot, "k")
      else SnapshotLog.commitMerge(s, statsRoot, v + 1, "k",
        Seq("n", "tot_dl"), row.withColumn("op", lit("U")))
    }
    def tok(dd: DataFrame) = dd.select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"), col("toks"))

    def insert(s: S, ins: DataFrame): Unit = {
      val t = tok(ins).localCheckpoint()
      val tf = t.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
        .groupBy("doc_id", "dl", "term").agg(count(lit(1)).cast("long").as("tf"))
        .localCheckpoint()
      // docs rows: (doc_id, dl, terms) — delete routing + dl retraction.
      // Derived from tok() DIRECTLY (not from the exploded tf rows) so
      // a ZERO-TOKEN document still gets a state row with an empty
      // terms array: its insert counts into the persisted N/Σdl stats,
      // so its delete must find it here to decrement them — deriving
      // from tf would leave n permanently inflated after that delete
      val docRows = t.select(col("doc_id"), col("dl"),
        array_distinct(col("toks")).as("terms"))
      val vD = latest(docsRoot)
      if (vD < 0) SnapshotLog.commitInitial(docRows, docsRoot, "doc_id")
      else SnapshotLog.commitMerge(s, docsRoot, vD + 1, "doc_id",
        Seq("dl", "terms"), docRows.withColumn("op", lit("I")))
      // postings delta per AFFECTED term, appended onto the old rows
      val delta = tf.groupBy(col("term")).agg(
        collect_list(struct(col("doc_id"), col("dl"), col("tf"))).as("p_new"),
        count(lit(1)).cast("long").as("df_new"))
      val merged = postState(s) match {
        case None =>
          delta.select(xxhash64(col("term")).as("term_hash"), col("term"),
            col("df_new").as("df"), col("p_new").as("postings"))
        case Some(p) =>
          val old = p.join(delta.select("term"), Seq("term"), "left_semi")
          delta.as("dn").join(old.as("o"), Seq("term"), "left_outer")
            .select(
              coalesce(col("o.term_hash"), xxhash64(col("term"))).as("term_hash"),
              col("term"),
              when(col("o.df").isNull, col("dn.df_new"))
                .otherwise(col("o.df") + col("dn.df_new")).as("df"),
              when(col("o.postings").isNull, col("dn.p_new"))
                .otherwise(concat(col("o.postings"), col("dn.p_new"))).as("postings"))
      }
      val vP = latest(postRoot)
      if (vP < 0) SnapshotLog.commitInitial(merged, postRoot, "term_hash")
      else SnapshotLog.commitMerge(s, postRoot, vP + 1, "term_hash",
        Seq("term", "df", "postings"), merged.withColumn("op", lit("U")))
      val st = t.agg(count(lit(1)), sum(col("dl"))).collect()(0) // one row
      val (n0, dl0) = statsOf(s)
      commitStats(s, n0 + st.getLong(0),
        dl0 + (if (st.isNullAt(1)) 0L else st.getLong(1)))
    }

    def delete(s: S, ids: DataFrame): Unit = {
      val dState = docState(s).getOrElse(return)
      val going = dState.join(ids, Seq("doc_id"), "left_semi").localCheckpoint()
      val gone = going.agg(count(lit(1)), sum(col("dl"))).collect()(0) // one row
      val (n0, dl0) = statsOf(s)
      commitStats(s, n0 - gone.getLong(0),
        dl0 - (if (gone.isNullAt(1)) 0L else gone.getLong(1)))
      SnapshotLog.commitDeleteVector(s, docsRoot, latest(docsRoot) + 1,
        "doc_id", ids.select(col("doc_id")))
      // affected postings rows: the departing docs' own term lists
      val affTerms = going.select(explode(col("terms")).as("term")).distinct()
      postState(s).foreach { p =>
        val old = p.join(affTerms, Seq("term"), "left_semi")
        val rebuilt = old
          .select(col("term_hash"), col("term"), explode(col("postings")).as("e"))
          .select(col("term_hash"), col("term"), col("e.doc_id").as("doc_id"),
            col("e.dl").as("dl"), col("e.tf").as("tf"))
          .join(going.select("doc_id"), Seq("doc_id"), "left_anti")
          .groupBy(col("term_hash"), col("term"))
          .agg(collect_list(struct(col("doc_id"), col("dl"), col("tf"))).as("postings"),
            count(lit(1)).cast("long").as("df"))
        // a term whose every posting departed drops its row entirely
        val deadRows = old.join(rebuilt.select("term"), Seq("term"), "left_anti")
          .select(col("term_hash"), col("term"), col("df"), col("postings"))
          .withColumn("op", lit("D"))
        val changes = rebuilt
          .select(col("term_hash"), col("term"), col("df"), col("postings"))
          .withColumn("op", lit("U"))
          .unionByName(deadRows)
        if (!changes.isEmpty)
          SnapshotLog.commitMerge(s, postRoot, latest(postRoot) + 1,
            "term_hash", Seq("term", "df", "postings"), changes)
      }
    }

    /** Ad-hoc query against the persisted index: a BUCKET-PRUNED point
      * lookup of the query terms' rows (readKeys — 1/Buckets of the
      * postings table regardless of size), never a state-wide read. */
    def score(s: S, terms: Seq[String], qid: Int): DataFrame = {
      import s.implicits._
      val (n, totDl) = statsOf(s)
      val avgdl = totDl.toDouble / n
      val hashes = terms.toDF("term").select(xxhash64(col("term")))
        .collect().map(_.getLong(0)).toSeq // |query terms| — bounded
      val rows = SnapshotLog.readKeys(s, postRoot, latest(postRoot),
          "term_hash", hashes)
        .filter(col("term").isin(terms: _*)) // hash-collision guard
      val tfRows = rows
        .select(col("df").cast("double").as("dfd"), explode(col("postings")).as("e"))
        .select(col("dfd"), col("e.doc_id").as("doc_id"),
          col("e.dl").as("dl"), col("e.tf").as("tf"))
      val idfOdds = (lit(n.toDouble) - col("dfd") + lit(0.5)) / (col("dfd") + lit(0.5))
      val tfNorm = (col("tf").cast("double") * lit(2.2)) /
        (col("tf").cast("double") +
          lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / lit(avgdl))))
      val cq = floor(idfOdds * tfNorm * lit(1000000000L) + lit(0.5)).cast("long")
      tfRows.select(col("doc_id"), cq.as("cq"))
        .groupBy("doc_id").agg(sum(col("cq")).as("score_e9"))
        .orderBy(col("score_e9").desc, col("doc_id")).limit(20)
        .select(lit(qid).as("qid"), col("doc_id"),
          (col("score_e9").cast("double") / lit(1000000000L)).as("score"))
    }

  }

  /** The persisted-index entry body: the mid-changelog `newSession()`
    * proves every [[Bm25Index]] handle rebuilds from the log roots
    * alone. Memoized per fixture — the replay runs once per JVM. */
  private def bm25Persist(s0: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    graft.operators.FixtureMemo(s"$d#bm25_persist", Seq("text_bm25_persist"), s0) {
      val ix = new Bm25Index
      val docsA = Tables.documents(s0, d).select(col("doc_id"), col("text"))
      val ghostsA = docsA.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + lit(1000000000L)).as("doc_id"), col("text"))
      ix.insert(s0, docsA.filter(col("doc_id") % 3 === 0))
      ix.insert(s0, docsA.filter(col("doc_id") % 3 === 1).unionAll(ghostsA))

      // RESTART: a fresh session rebuilds everything from the log roots
      val s2 = s0.newSession()
      val docsB = Tables.documents(s2, d).select(col("doc_id"), col("text"))
      ix.insert(s2, docsB.filter(col("doc_id") % 3 === 2))
      ix.delete(s2, docsB.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + lit(1000000000L)).as("doc_id")))
      ix.score(s2, bm25QueryTerms, 1).unionAll(ix.score(s2, bm25QueryTerms2, 2))
    }

  val defs: Seq[GraftQuery] = Seq(

    // --- DATASET CARD ----------------------------------------------------
    // The per-source summary every dataset release ships (docs,
    // chars, tokens, language spread, exact-duplicate rate) in ONE
    // scan: a single grouped aggregate whose only non-trivial members
    // are two COUNT(DISTINCT)s (lang spread + normalized-digest
    // uniques — Spark plans the expand, map-side combine still
    // reduces the token sums). The dup ratio is exact ints + ONE IEEE
    // division. At 100 TB the card costs one pass over text, which is
    // the floor for anything that tokenizes.
    sql("curation_dataset_card",
      """SELECT source,
        | COUNT(*) AS n_docs,
        | CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        | CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        | CAST(SUM(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS n_tokens,
        | CAST(COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS BIGINT) AS n_unique,
        | CAST(COUNT(*) - COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS DOUBLE)
        |  / COUNT(*) AS dup_ratio
        |FROM documents GROUP BY source""".stripMargin) {
      (s, d) =>
        val fp = md5(trim(regexp_replace(lower(col("text")), lit("\\s+"), lit(" "))))
        Tables.documents(s, d)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            countDistinct(col("lang")).as("n_langs"),
            sum(size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
              .cast("long")).as("n_tokens"),
            countDistinct(fp).as("n_unique"))
          .select(col("source"), col("n_docs"), col("total_chars"), col("n_langs"),
            col("n_tokens"), col("n_unique"),
            ((col("n_docs") - col("n_unique")).cast("double") / col("n_docs"))
              .as("dup_ratio"))
    },

    // --- PII redaction -------------------------------------------------
    sql("text_pii_redact",
      s"""WITH pii AS (
         | SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail'
         |    || CAST(doc_id % 10 AS VARCHAR) || '.example.com or +1 555-'
         |    || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
         |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.'
         |    || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS t
         | FROM documents)
         |SELECT doc_id,
         | regexp_replace(regexp_replace(regexp_replace(t,
         |   '$emailPat', '<EMAIL>', 'g'), '$phonePat', '<PHONE>', 'g'),
         |   '$ipPat', '<IP>', 'g') AS clean_text,
         | len(regexp_extract_all(t, '$emailPat')) AS n_emails,
         | len(regexp_extract_all(t, '$phonePat')) AS n_phones,
         | len(regexp_extract_all(t, '$ipPat')) AS n_ips
         |FROM pii""".stripMargin) {
      (s, d) =>
        val t = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail"), (col("doc_id") % 10).cast("string"), lit(".example.com or +1 555-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" from 10."),
          (col("doc_id") % 256).cast("string"), lit(".0."),
          ((col("doc_id") * 7) % 256).cast("string"))
        Tables.documents(s, d).select(col("doc_id"), t.as("t")).select(
          col("doc_id"),
          regexp_replace(regexp_replace(regexp_replace(col("t"),
            emailPat, "<EMAIL>"), phonePat, "<PHONE>"), ipPat, "<IP>").as("clean_text"),
          size(regexp_extract_all(col("t"), lit(emailPat), lit(0))).as("n_emails"),
          size(regexp_extract_all(col("t"), lit(phonePat), lit(0))).as("n_phones"),
          size(regexp_extract_all(col("t"), lit(ipPat), lit(0))).as("n_ips"))
    },

    // --- repetition / duplication quality signals (Gopher rules) -------
    // Word and bigram frequency concentration per document. Shape:
    // explode → (doc_id, gram) hash-aggregate → per-doc max/sum — two
    // shuffles on doc_id with map-side combine, no interpreted HOFs.
    sql("text_repetition",
      """WITH w AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS g
        |           FROM documents),
        |wc AS (SELECT doc_id, g, COUNT(*) AS c FROM w GROUP BY doc_id, g),
        |ws AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
        |              CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |              CAST(MAX(c) AS BIGINT) AS top_word_c
        |       FROM wc GROUP BY doc_id),
        |b AS (SELECT doc_id,
        |        unnest(list_transform(generate_series(1, len(toks) - 1),
        |               i -> toks[i] || ' ' || toks[i + 1])) AS g
        |      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |            FROM documents)),
        |bc AS (SELECT doc_id, g, COUNT(*) AS c FROM b GROUP BY doc_id, g),
        |bs AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
        |              CAST(MAX(c) AS BIGINT) AS top_bigram_c
        |       FROM bc GROUP BY doc_id)
        |SELECT ws.doc_id, n_words, n_distinct, top_word_c, n_bigrams, top_bigram_c,
        | 1.0 - CAST(n_distinct AS DOUBLE) / n_words AS dup_word_frac,
        | CAST(top_word_c AS DOUBLE) / n_words AS top_word_frac,
        | CAST(top_bigram_c AS DOUBLE) / n_bigrams AS top_bigram_frac,
        | (1.0 - CAST(n_distinct AS DOUBLE) / n_words <= 0.85
        |  AND CAST(top_word_c AS DOUBLE) / n_words <= 0.30
        |  AND CAST(top_bigram_c AS DOUBLE) / n_bigrams <= 0.18) AS repetition_ok
        |FROM ws JOIN bs ON ws.doc_id = bs.doc_id""".stripMargin) {
      (s, d) =>
        val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
        val docs = Tables.documents(s, d)
        val words = docs.select(col("doc_id"), explode(toks).as("g"))
          .groupBy("doc_id", "g").count()
          .groupBy("doc_id").agg(
            sum("count").cast(LongType).as("n_words"),
            count(lit(1)).cast(LongType).as("n_distinct"),
            max("count").cast(LongType).as("top_word_c"))
        // bigrams via the native codegen'd multiplicity-preserving
        // n-gram expression (the interpreted transform-over-sequence
        // HOF re-inlines the tokenizer per element — round-1 trap);
        // docs with < 2 tokens produce no bigrams and drop out, same
        // as the oracle's empty generate_series
        val bigrams = docs
          .select(col("doc_id"), explode(word_ngrams(toks, 2)).as("g"))
          .groupBy("doc_id", "g").count()
          .groupBy("doc_id").agg(
            sum("count").cast(LongType).as("n_bigrams"),
            max("count").cast(LongType).as("top_bigram_c"))
        val dupFrac = lit(1.0) - col("n_distinct").cast("double") / col("n_words")
        val topWordFrac = col("top_word_c").cast("double") / col("n_words")
        val topBigramFrac = col("top_bigram_c").cast("double") / col("n_bigrams")
        words.join(bigrams, "doc_id").select(
          col("doc_id"), col("n_words"), col("n_distinct"), col("top_word_c"),
          col("n_bigrams"), col("top_bigram_c"),
          dupFrac.as("dup_word_frac"),
          topWordFrac.as("top_word_frac"),
          topBigramFrac.as("top_bigram_frac"),
          (dupFrac <= 0.85 && topWordFrac <= 0.30 && topBigramFrac <= 0.18)
            .as("repetition_ok"))
    },

    // --- deterministic stratified sampling -----------------------------
    // COHERENT (referential-integrity-preserving) sampling — the way a
    // dev-scale copy of a star schema is actually cut: the PARENT key
    // decides membership (deterministic md5 threshold on o_orderkey ≈
    // 1/16), and every child row FOLLOWS its parent, so sampled
    // lineitems always join back to a sampled order — no dangling FKs,
    // unlike independent per-table sampling. Membership is a pure
    // function of the key (stable under corpus growth, same guarantee
    // as split_train_test); the child side is one broadcast semi join
    // against the sampled key set at any scale.
    sql("sample_coherent_join",
      """SELECT l.l_orderkey, l.l_linenumber, o.o_custkey,
        | CAST(o.o_orderdate AS VARCHAR) AS o_orderdate
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE substring(md5(CAST(o.o_orderkey AS VARCHAR)), 1, 1) = '0'""".stripMargin) {
      (s, d) =>
        val sampledOrders = Tables.orders(s, d)
          .filter(substring(md5(to_binary(col("o_orderkey").cast("string"),
            lit("utf-8"))), 1, 1) === "0")
          .select("o_orderkey", "o_custkey", "o_orderdate")
        Tables.lineitem(s, d).select("l_orderkey", "l_linenumber")
          .join(broadcast(sampledOrders), col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"),
            col("o_orderdate").cast("string").as("o_orderdate"))
    },

    // QUOTA SAMPLING — exactly-k-per-stratum (the balanced-mixture
    // complement to rate-based sample_stratified): per source, keep
    // the 20 documents with the smallest md5(doc_id) — a uniform-ish
    // deterministic draw whose output size is FIXED per stratum
    // regardless of stratum skew (the property mixture balancing
    // needs; a rate undersamples small sources and floods from big
    // ones). Partitioned row_number: the per-source sort is bounded
    // by stratum size and k never grows with the corpus.
    sql("sample_quota_per_source",
      """SELECT doc_id, source, CAST(rk AS BIGINT) AS pick_order FROM (
        | SELECT doc_id, source,
        |  ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        | FROM documents) t WHERE rk <= 20""".stripMargin) {
      (s, d) =>
        val w = Window.partitionBy(col("source"))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 20)
          .select(col("doc_id"), col("source"),
            col("rk").cast("long").as("pick_order"))
    },

    sql("sample_stratified",
      s"""SELECT doc_id, lang, source
         |FROM documents
         |WHERE substring(md5(CAST(doc_id AS VARCHAR) || ':' || lang), 1, 4) <
         | CASE ${sampleRates.map { case (l, t) => s"WHEN lang = '$l' THEN '$t'" }.mkString(" ")}
         |  ELSE 'g' END""".stripMargin) {
      (s, d) =>
        // 'g' sorts above every hex digest prefix → keep-all for
        // languages without a configured rate
        val threshold = sampleRates.foldLeft(lit("g")) { case (acc, (l, t)) =>
          when(col("lang") === l, lit(t)).otherwise(acc)
        }
        Tables.documents(s, d)
          .filter(substring(md5(to_binary(
            concat(col("doc_id").cast("string"), lit(":"), col("lang")), lit("utf-8"))),
            1, 4) < threshold)
          .select("doc_id", "lang", "source")
    },

    // --- weighted sampling: sequential Poisson (PPS) -------------------
    // Probability-proportional-to-size sampling without transcendental
    // ranking keys: Ohlsson's sequential Poisson scheme ranks each doc
    // by hash/weight and keeps the k smallest per stratum — a document
    // twice as long is ~twice as likely to survive. The rank is one
    // IEEE division of a long→double rounding (bit-identical in JVM
    // and C++), unlike the textbook u^(1/w) exponential-keys scheme
    // (Efraimidis-Spirtsis) whose pow() is not cross-engine
    // reproducible — determinism is what puts a SAMPLER behind a
    // value-hash gate. Per-stratum top-k: partial per partition, never
    // a global sort.
    sql("sample_weighted",
      """SELECT doc_id, lang, n_chars, samp_rank FROM (
        | SELECT doc_id, lang, n_chars,
        |  row_number() OVER (PARTITION BY lang ORDER BY key, doc_id) AS samp_rank
        | FROM (
        |  SELECT doc_id, lang, length(text) AS n_chars,
        |   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
        |     / CAST(greatest(length(text), 1) AS DOUBLE) AS key
        |  FROM documents)
        |) WHERE samp_rank <= 12""".stripMargin) {
      (s, d) =>
        import org.apache.spark.sql.expressions.Window
        val key = conv(substring(md5(to_binary(col("doc_id").cast("string"), lit("utf-8"))),
            1, 15), 16, 10).cast("long").cast("double") /
          greatest(length(col("text")), lit(1)).cast("double")
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            length(col("text")).as("n_chars"), key.as("key"))
          .withColumn("samp_rank", row_number().over(
            Window.partitionBy(col("lang")).orderBy(col("key"), col("doc_id"))))
          .filter(col("samp_rank") <= 12)
          .drop("key")
    },

    // --- DSIR-style importance resampling -------------------------------
    // Data Selection via Importance Resampling (Xie et al. 2023,
    // arXiv:2302.03169) re-weights a raw corpus toward a target domain
    // by the ratio of hashed-n-gram feature likelihoods, then accepts
    // documents with probability proportional to that ratio. This is
    // the exact-integer engine form: features are word unigrams hashed
    // into 64 buckets (15-hex md5 prefix, the repo's portable hash);
    // the target profile is `source = 'src0'`; a document's affinity
    // A = Σ_tokens tcnt[bucket] and base mass Bv = Σ_tokens
    // bcnt[bucket] give the importance ratio r = (A·total_b)/(Bv·total_t)
    // — exact BIGINT cross-products, ONE IEEE division for the
    // reported ratio — and acceptance is the integer cross-multiplied
    // coin `md5(doc_id) % 1000 · Bv·total_t < 1000 · A·total_b`,
    // i.e. P(keep) = min(1, r) with no float anywhere in the decision.
    // Shape at scale: one explode scan feeds both 64-row profiles
    // (hash-aggregate, map-side combine, broadcast back) and the
    // per-doc aggregate (one shuffle on doc_id); the two corpus
    // totals come off the 64-row profile (bounded scalar frame, same
    // class as the IVF centroid collects). Everything downstream of
    // the scan is profile-sized except the one doc_id aggregate.
    sql("curation_importance_resample",
      """WITH toks AS (
        | SELECT doc_id, source, ('0x' || substr(md5(t), 1, 15))::BIGINT % 64 AS b
        | FROM (SELECT doc_id, source,
        |         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
        |       FROM documents)),
        |tgt AS (SELECT b, COUNT(*) AS tcnt FROM toks WHERE source = 'src0' GROUP BY b),
        |base AS (SELECT b, COUNT(*) AS bcnt FROM toks GROUP BY b),
        |tot AS (SELECT (SELECT CAST(SUM(tcnt) AS BIGINT) FROM tgt) AS total_t,
        |               (SELECT CAST(SUM(bcnt) AS BIGINT) FROM base) AS total_b),
        |doc AS (
        | SELECT toks.doc_id, COUNT(*) AS n_tokens,
        |  CAST(COALESCE(SUM(tcnt), 0) AS BIGINT) AS a,
        |  CAST(SUM(bcnt) AS BIGINT) AS bv
        | FROM toks JOIN base USING (b) LEFT JOIN tgt USING (b)
        | GROUP BY toks.doc_id)
        |SELECT doc_id, n_tokens,
        | a * total_b AS aff_num, bv * total_t AS aff_den,
        | CAST(a * total_b AS DOUBLE) / (bv * total_t) AS ratio,
        | (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000)
        |   * bv * total_t < 1000 * a * total_b AS sampled
        |FROM doc, tot""".stripMargin) {
      (s, d) =>
        def base60(c: org.apache.spark.sql.Column) =
          conv(substring(md5(to_binary(c, lit("utf-8"))), 1, 15), 16, 10).cast("long")
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("t"))
          .select(col("doc_id"), col("source"), (base60(col("t")) % 64).as("b"))
        val tgt = toks.filter(col("source") === "src0")
          .groupBy(col("b")).agg(count(lit(1)).as("tcnt"))
        val base = toks.groupBy(col("b")).agg(count(lit(1)).as("bcnt"))
        // corpus totals off the 64-row profiles — bounded scalar frames
        // (<= 64 rows by construction of `% 64`), embedded as literals
        // so no one-row cross join enters the plan
        val totalT = tgt.agg(sum(col("tcnt"))).collect()(0) match {
          case r if r.isNullAt(0) => 0L; case r => r.getLong(0) }
        val totalB = base.agg(sum(col("bcnt"))).collect()(0).getLong(0)
        toks.join(broadcast(base), Seq("b"))
          .join(broadcast(tgt), Seq("b"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            coalesce(sum(col("tcnt")), lit(0L)).as("a"),
            sum(col("bcnt")).as("bv"))
          .select(col("doc_id"), col("n_tokens"),
            (col("a") * lit(totalB)).as("aff_num"),
            (col("bv") * lit(totalT)).as("aff_den"),
            ((col("a") * lit(totalB)).cast("double") / (col("bv") * lit(totalT))).as("ratio"),
            ((base60(col("doc_id").cast("string")) % 1000) * col("bv") * lit(totalT) <
              lit(1000L) * col("a") * lit(totalB)).as("sampled"))
    },

    // --- document chunking: token windows with stride ------------------
    // The preprocessing step before embedding/pretraining: split each
    // document into windows of 64 tokens at stride 48 (16-token
    // overlap), final partial window kept iff it adds >= 1 new token.
    // Pure per-row explode over computed indices — scan + Generate, no
    // shuffle; chunk count per doc is ceil((n-64)/48)+1, so output
    // scales linearly with corpus tokens.
    sql("text_chunk_windows",
      """WITH t AS (SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |c AS (
        | SELECT doc_id, lang,
        |  unnest(generate_series(0,
        |    CASE WHEN len(toks) <= 64 THEN 0
        |         ELSE CAST(ceil(CAST(len(toks) - 64 AS DOUBLE) / 48) AS BIGINT) END)) AS chunk_id,
        |  toks
        | FROM t WHERE len(toks) >= 1)
        |SELECT doc_id, lang, chunk_id,
        | array_to_string(list_slice(toks, chunk_id * 48 + 1,
        |   least(chunk_id * 48 + 64, len(toks))), ' ') AS chunk,
        | least(chunk_id * 48 + 64, len(toks)) - chunk_id * 48 AS n_tokens
        |FROM c""".stripMargin) {
      (s, d) =>
        val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
        val t = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), toks.as("toks"))
          .filter(size(col("toks")) >= 1)
        val nChunksMinus1 = when(size(col("toks")) <= 64, lit(0L))
          .otherwise(ceil((size(col("toks")) - lit(64)).cast("double") / 48).cast(LongType))
        t.select(col("doc_id"), col("lang"), col("toks"),
            explode(sequence(lit(0L), nChunksMinus1)).as("chunk_id"))
          .select(col("doc_id"), col("lang"), col("chunk_id"),
            concat_ws(" ", slice(col("toks"), (col("chunk_id") * 48 + 1).cast("int"),
              (least(col("chunk_id") * 48 + 64, size(col("toks")))
                - col("chunk_id") * 48).cast("int"))).as("chunk"),
            (least(col("chunk_id") * 48 + 64, size(col("toks")))
              - col("chunk_id") * 48).as("n_tokens"))
    },

    // CHUNK-LEVEL exact dedup — boilerplate PARAGRAPH detection, the
    // sub-document granularity whole-doc dedup cannot see (two
    // different pages sharing a license header / nav block): the same
    // stride windows as text_chunk_windows, md5'd, grouped — a chunk
    // digest appearing in ≥ 2 DISTINCT documents is corpus
    // boilerplate; emitted with its spread and one canonical source
    // (min doc) for inspection. One scan + Generate for the chunks,
    // ONE fixed-width digest shuffle — the md5 reduces arbitrarily
    // long chunks to 32 bytes before the exchange, the same shape as
    // dedup_exact at any scale.
    sql("dedup_chunk_boilerplate",
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents),
        |c AS (
        | SELECT doc_id,
        |  unnest(generate_series(0,
        |    CASE WHEN len(toks) <= 64 THEN 0
        |         ELSE CAST(ceil(CAST(len(toks) - 64 AS DOUBLE) / 48) AS BIGINT) END)) AS chunk_id,
        |  toks
        | FROM t WHERE len(toks) >= 1),
        |h AS (
        | SELECT doc_id,
        |  md5(array_to_string(list_slice(toks, chunk_id * 48 + 1,
        |    least(chunk_id * 48 + 64, len(toks))), ' ')) AS chunk_md5
        | FROM c)
        |SELECT chunk_md5, COUNT(*) AS n_occurrences,
        | CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        | MIN(doc_id) AS example_doc
        |FROM h GROUP BY chunk_md5
        |HAVING COUNT(DISTINCT doc_id) >= 2""".stripMargin) {
      (s, d) =>
        val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
        val t = Tables.documents(s, d)
          .select(col("doc_id"), toks.as("toks"))
          .filter(size(col("toks")) >= 1)
        val nChunksMinus1 = when(size(col("toks")) <= 64, lit(0L))
          .otherwise(ceil((size(col("toks")) - lit(64)).cast("double") / 48).cast(LongType))
        t.select(col("doc_id"), col("toks"),
            explode(sequence(lit(0L), nChunksMinus1)).as("chunk_id"))
          .select(col("doc_id"),
            md5(to_binary(concat_ws(" ",
              slice(col("toks"), (col("chunk_id") * 48 + 1).cast("int"),
                (least(col("chunk_id") * 48 + 64, size(col("toks")))
                  - col("chunk_id") * 48).cast("int"))), lit("utf-8"))).as("chunk_md5"))
          .groupBy(col("chunk_md5"))
          .agg(count(lit(1)).as("n_occurrences"),
            countDistinct(col("doc_id")).as("n_docs"),
            min(col("doc_id")).as("example_doc"))
          .filter(col("n_docs") >= 2)
    },

    // --- decontamination: eval-set n-gram overlap ----------------------
    // The check a training pipeline runs against its benchmark suite:
    // flag training documents sharing >= 3 distinct word 3-grams with
    // any eval document (here the held-out set is doc_id % 97 = 0, the
    // fixture stand-in for a real benchmark). Shapes: distinct shingles
    // exploded on BOTH sides, candidates from the gram equi-join (hash
    // partitioned on the gram — never an all-pairs compare), overlap =
    // count of distinct shared grams per (train, eval) pair. 3-grams at
    // the fixture scale so the gate's expected result is NON-EMPTY (a
    // 0=0 gate proves nothing); a production run would use 5-grams for
    // join selectivity — the shape is identical, and it is the same
    // pipeline as minhash-LSH confirm, so it inherits the 100 TB shape.
    sql("decontaminate_ngram_overlap",
      """WITH sh AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS grams
        | FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        |       FROM documents) z
        | WHERE len(t) >= 3),
        |ex AS (SELECT doc_id, unnest(grams) AS g FROM sh),
        |ev AS (SELECT doc_id AS eval_id, g FROM ex WHERE doc_id % 97 = 0),
        |tr AS (SELECT doc_id AS train_id, g FROM ex WHERE doc_id % 97 <> 0)
        |SELECT train_id, eval_id, CAST(COUNT(*) AS BIGINT) AS shared_grams
        |FROM tr JOIN ev USING (g)
        |GROUP BY train_id, eval_id
        |HAVING COUNT(*) >= 3""".stripMargin) {
      (s, d) =>
        import graft.functions.WordShingles.word_shingles
        // word_shingles collapses <3-token docs to one joined shingle;
        // the oracle's generate_series yields none — filter those
        // docs BEFORE shingling so both sides agree
        val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
        val ex = Tables.documents(s, d)
          .select(col("doc_id"), toks.as("t"))
          .filter(size(col("t")) >= 3)
          .select(col("doc_id"), explode(word_shingles(col("t"), 3)).as("g"))
        val ev = ex.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id").as("eval_id"), col("g"))
        val tr = ex.filter(col("doc_id") % 97 =!= 0)
          .select(col("doc_id").as("train_id"), col("g"))
        tr.join(ev, "g")
          .groupBy("train_id", "eval_id")
          .agg(count(lit(1)).cast(LongType).as("shared_grams"))
          .filter(col("shared_grams") >= 3)
    },

    // --- decontamination, WINNOWING flavor (the substring-level scale
    // path): exact 5-gram overlap (above) requires matching token
    // sequences; winnowing fingerprints carry MOSS's guarantee — any
    // shared substring of >= k+w-1 chars yields a shared fingerprint —
    // so this catches contamination at the CHARACTER level
    // (punctuation/casing drift between eval and train copies) while
    // shuffling only 44-bit hashes, never gram text. Rides the native
    // rolling-kgram kernel; the threshold (>= 20 shared fingerprints)
    // separates genuinely copied passages from shared-vocabulary noise
    // on this corpus. Same eval/train split convention as the 5-gram
    // entry.
    sql("decontaminate_winnowing",
      s"""WITH ${graft.operators.TextAnalysis.winnowOracleCtes},
         |fps AS (SELECT DISTINCT doc_id, mn // 65536 AS fp FROM sel),
         |ev AS (SELECT doc_id AS eval_id, fp FROM fps WHERE doc_id % 97 = 0),
         |tr AS (SELECT doc_id AS train_id, fp FROM fps WHERE doc_id % 97 <> 0)
         |SELECT train_id, eval_id, CAST(COUNT(*) AS BIGINT) AS shared_fps
         |FROM tr JOIN ev USING (fp)
         |GROUP BY train_id, eval_id
         |HAVING COUNT(*) >= 20""".stripMargin) {
      (s, d) =>
        val fps = graft.operators.TextAnalysis.winnow(
            Tables.documents(s, d).select(col("doc_id"), col("text")))
          .select(col("doc_id"), col("fp")).distinct()
        val ev = fps.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id").as("eval_id"), col("fp"))
        val tr = fps.filter(col("doc_id") % 97 =!= 0)
          .select(col("doc_id").as("train_id"), col("fp"))
        tr.join(ev, "fp")
          .groupBy("train_id", "eval_id")
          .agg(count(lit(1)).cast(LongType).as("shared_fps"))
          .filter(col("shared_fps") >= 20)
    },

    // --- mixture weights: per-source rates toward a token budget -------
    // Given a total token budget split equally across sources, emit
    // each source's deterministic keep-rate (capped at 1): the number
    // a weighted-mixture sampler feeds into the md5-threshold trick of
    // sample_stratified. Pure two-level aggregate — integer token
    // sums, one exact division at the end.
    sql("mixture_weights",
      s"""WITH per_src AS (
         | SELECT source, CAST(SUM(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS n_tokens,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs
         | FROM documents GROUP BY source),
         |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
         |               CAST(COUNT(*) AS BIGINT) AS n_sources FROM per_src)
         |SELECT source, n_docs, n_tokens,
         | CAST(total AS DOUBLE) / n_sources AS target_tokens,
         | least(1.0, (CAST(total AS DOUBLE) / n_sources) / n_tokens) AS keep_rate
         |FROM per_src, tot""".stripMargin) {
      (s, d) =>
        val perSrc = Tables.documents(s, d)
          .groupBy("source")
          .agg(sum(size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))))
            .cast(LongType).as("n_tokens"),
            count(lit(1)).cast(LongType).as("n_docs"))
        val tot = perSrc.agg(sum("n_tokens").cast(LongType).as("total"),
          count(lit(1)).cast(LongType).as("n_sources"))
        val target = col("total").cast("double") / col("n_sources")
        perSrc.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            target.as("target_tokens"),
            least(lit(1.0), target / col("n_tokens")).as("keep_rate"))
    },

    // --- per-document salient terms (tf·N/df keyword extraction) -------
    // The log-free cousin of TF-IDF: saliency = tf × N / df, with N the
    // corpus size and df the term's document frequency — same ordering
    // as tf·idf for ranking within a document, but every value is a
    // ratio of exact integers, so both engines produce identical
    // doubles (ln() is libm-dependent and would risk last-ulp drift).
    // Shapes: explode → (doc, term) counts; df is a second aggregate of
    // the SAME counts (no re-scan); per-doc top-3 via a window over
    // doc_id (keys are documents — no skew).
    sql("text_top_terms",
      """WITH tf AS (
        | SELECT doc_id, g AS term, COUNT(*) AS tf FROM (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS g
        |  FROM documents) w GROUP BY doc_id, g),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (
        | SELECT tf.doc_id, tf.term,
        |  CAST(tf.tf AS DOUBLE) * (SELECT n FROM n) / df.df AS saliency,
        |  ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |    ORDER BY CAST(tf.tf AS DOUBLE) * (SELECT n FROM n) / df.df DESC, tf.term) AS rnk
        | FROM tf JOIN df ON df.term = tf.term)
        |SELECT doc_id, term, saliency, rnk FROM scored WHERE rnk <= 3""".stripMargin) {
      (s, d) =>
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
        // corpus size N rides as a broadcast one-row frame (the
        // mixture_weights pattern) instead of an eager driver-side
        // docs.count() — one job, not two, and the scan stays lazy
        val nRow = docs.agg(count(lit(1)).cast("double").as("__n"))
        val tf = docs.select(col("doc_id"),
            explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val saliency = col("tf").cast("double") * col("__n") / col("df")
        val w = Window.partitionBy(col("doc_id")).orderBy(saliency.desc, col("term"))
        tf.join(df, "term").crossJoin(broadcast(nRow))
          .select(col("doc_id"), col("term"), saliency.as("saliency"),
            row_number().over(w).as("rnk"))
          .filter(col("rnk") <= 3)
    },

    // --- ranked retrieval (BM25, rank-stable rational idf) -------------
    // Dataset search over the corpus: score every document against a
    // fixed query term set and return the top 20. Classic BM25 with two
    // determinism substitutions, same spirit as text_top_terms:
    //  - idf uses the RATIONAL ODDS (N − df + 0.5)/(df + 0.5) instead
    //    of its logarithm — ln() is libm-dependent and could drift a
    //    last ulp between engines; the odds are a fixed tree of
    //    correctly-rounded IEEE ops over exact integers, so both
    //    engines produce identical doubles (monotone in the idf for a
    //    single term; multi-term totals weight common terms somewhat
    //    lower than log-BM25 would — documented tradeoff for a
    //    hash-stable ranking);
    //  - each per-(doc, term) contribution quantizes to an integer
    //    (×1e9, half-up) BEFORE the per-doc sum, so the fold is exact
    //    int arithmetic — summation order can never move a score.
    // Shapes: tokenize once, tf restricted to the query terms at the
    // explode (the frame never holds the full vocabulary), df as a
    // second aggregate of the SAME counts, corpus stats (N, avgdl) as
    // the one-row broadcast; k1 = 1.2, b = 0.75.
    sql("text_bm25_topk", bm25OracleSql) {
      (s, d) =>
        // Two lazy tokenize passes ON PURPOSE (stats + tf): a
        // checkpoint-the-exploded-tokens spelling with a dl re-join was
        // tried this round and measured SLOWER at sf0.1 (+0.2 s) — the
        // extra shuffles and the checkpoint job outweigh one saved
        // regex pass at this corpus size, where both passes run fully
        // parallel over the page-cached parquet.
        val d2 = Tables.documents(s, d)
          .select(col("doc_id"),
            regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("toks"))
          .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("dl"))
        val st = d2.agg(count(lit(1)).cast("double").as("__n"),
          (sum(col("dl")).cast("double") / count(lit(1))).as("__avgdl"))
        val tf = d2.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
          .filter(col("term").isin("join", "filter", "window"))
          .groupBy("doc_id", "dl", "term").agg(count(lit(1)).cast("long").as("tf"))
        val dfr = tf.groupBy("term").agg(count(lit(1)).cast("double").as("dfd"))
        val idfOdds = (col("__n") - col("dfd") + lit(0.5)) / (col("dfd") + lit(0.5))
        val tfNorm = (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("__avgdl"))))
        val cq = floor(idfOdds * tfNorm * lit(1000000000L) + lit(0.5)).cast("long")
        tf.join(dfr, "term").crossJoin(broadcast(st))
          .select(col("doc_id"), cq.as("cq"))
          .groupBy("doc_id").agg(sum(col("cq")).as("score_e9"))
          .orderBy(col("score_e9").desc, col("doc_id")).limit(20)
          .select(col("doc_id"), (col("score_e9").cast("double") / lit(1000000000L)).as("score"))
    },

    // --- maintained ranked retrieval under a document changelog --------
    // BM25's sufficient statistics maintained incrementally: N and
    // Σdl as exact signed longs (insert batches ADD their one-row
    // aggregate, deletes SUBTRACT the departing docs' — both
    // changelog-proportional), per-(doc, term) tf rows appended /
    // anti-joined. The read derives df + avgdl from the maintained
    // state (query-term rows only — the full-vocabulary form is
    // text_bm25_maintained_vocab below; the PERSISTED inverted index
    // is text_bm25_persist) and scores with the IDENTICAL
    // quantized arithmetic as the batch entry — ghost docs injected
    // mid-changelog shift df/avgdl while present and must leave every
    // statistic exactly restored when deleted, proven by the shared
    // oracle.
    sql("text_bm25_maintained", bm25OracleSql) {
      (s, d) =>
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val ghosts = docs.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + lit(1000000000L)).as("doc_id"), col("text"))
        def tok(dd: DataFrame) = dd.select(col("doc_id"),
            regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("toks"))
          .select(col("doc_id"), size(col("toks")).cast("long").as("dl"), col("toks"))
        var dlState: DataFrame = null // (doc_id, dl)
        var tfState: DataFrame = null // (doc_id, dl, term, tf)
        var n = 0L
        var totDl = 0L
        def insert(ins: DataFrame): Unit = {
          val t = tok(ins).localCheckpoint()
          val st = t.agg(count(lit(1)), sum(col("dl"))).collect()(0) // one row
          n += st.getLong(0)
          totDl += (if (st.isNullAt(1)) 0L else st.getLong(1))
          val tf = t.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
            .filter(col("term").isin("join", "filter", "window"))
            .groupBy("doc_id", "dl", "term").agg(count(lit(1)).cast("long").as("tf"))
          tfState = (if (tfState == null) tf else tfState.unionAll(tf)).localCheckpoint()
          val dl = t.select(col("doc_id"), col("dl"))
          dlState = (if (dlState == null) dl else dlState.unionAll(dl)).localCheckpoint()
        }
        def delete(ids: DataFrame): Unit = {
          val gone = dlState.join(ids, Seq("doc_id"), "left_semi")
            .agg(count(lit(1)), sum(col("dl"))).collect()(0) // one row
          n -= gone.getLong(0)
          totDl -= (if (gone.isNullAt(1)) 0L else gone.getLong(1))
          dlState = dlState.join(ids, Seq("doc_id"), "left_anti").localCheckpoint()
          tfState = tfState.join(ids, Seq("doc_id"), "left_anti").localCheckpoint()
        }
        insert(docs.filter(col("doc_id") % 3 === 0))
        insert(docs.filter(col("doc_id") % 3 === 1).unionAll(ghosts))
        insert(docs.filter(col("doc_id") % 3 === 2))
        delete(ghosts.select(col("doc_id")))
        // read: the batch entry's exact arithmetic over maintained stats
        val avgdl = totDl.toDouble / n
        val dfr = tfState.groupBy("term").agg(count(lit(1)).cast("double").as("dfd"))
        val idfOdds = (lit(n.toDouble) - col("dfd") + lit(0.5)) / (col("dfd") + lit(0.5))
        val tfNorm = (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / lit(avgdl))))
        val cq = floor(idfOdds * tfNorm * lit(1000000000L) + lit(0.5)).cast("long")
        tfState.join(dfr, "term")
          .select(col("doc_id"), cq.as("cq"))
          .groupBy("doc_id").agg(sum(col("cq")).as("score_e9"))
          .orderBy(col("score_e9").desc, col("doc_id")).limit(20)
          .select(col("doc_id"), (col("score_e9").cast("double") / lit(1000000000L)).as("score"))
    },

    // --- … with FULL-VOCABULARY df ------------------------------------
    // The deployment shape the query-term-restricted twin documents as
    // its gap: the inverted index (per-(doc, term) tf over ALL terms)
    // and per-term df both maintained under the changelog — df as
    // SIGNED delta rows appended per batch (+1 per (term, arriving
    // doc), −1 per (term, departing doc) derived from the departing
    // docs' own tf rows BEFORE they drop), never a vocabulary rebuild.
    // The READ then serves AD-HOC query terms: two different term
    // sets, both chosen after the changelog replays, score from the
    // same state — the df aggregation at read time touches only the
    // query's terms. Oracle: both queries from scratch, qid-tagged.
    sql("text_bm25_maintained_vocab",
      s"""SELECT 1 AS qid, doc_id, score FROM (
         |${bm25OracleSqlFor(bm25QueryTerms)}) q1
         |UNION ALL
         |SELECT 2 AS qid, doc_id, score FROM (
         |${bm25OracleSqlFor(bm25QueryTerms2)}) q2""".stripMargin) {
      // ONE STATE TRUTH: the maintained full-vocabulary read is a VIEW
      // over the persisted inverted index ([[Bm25Index]]) — per-term
      // df comes from the postings row, the read is the same
      // bucket-pruned readKeys point lookup, and the previous parallel
      // in-JVM tf/df frames are gone (two state implementations of one
      // capability can silently diverge; a view over the index
      // cannot). The changelog replays without the restart — that is
      // text_bm25_persist's claim; this entry's claim is the
      // maintained full-vocab df serving AD-HOC query-term sets chosen
      // after the replay.
      (s, d) =>
        graft.operators.FixtureMemo(s"$d#bm25_maintained_vocab", Seq("text_bm25_maintained_vocab"), s) {
          val ix = new Bm25Index
          val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
          val ghosts = docs.filter(col("doc_id") % 50 === 0)
            .select((col("doc_id") + lit(1000000000L)).as("doc_id"), col("text"))
          ix.insert(s, docs.filter(col("doc_id") % 3 === 0))
          ix.insert(s, docs.filter(col("doc_id") % 3 === 1).unionAll(ghosts))
          ix.insert(s, docs.filter(col("doc_id") % 3 === 2))
          ix.delete(s, ghosts.select(col("doc_id")))
          ix.score(s, bm25QueryTerms, 1).unionAll(ix.score(s, bm25QueryTerms2, 2))
        }
    },

    // --- … PERSISTED as a lakehouse inverted index ----------------------
    // The third persisted maintained pipeline (after the two dedup
    // twins): BM25's whole state lives in snapshot tables and the
    // entry proves a mid-changelog session RESTART, serving two
    // AD-HOC query-term sets afterward.
    //  - postings, keyed by xxhash64(term): one row per term carrying
    //    (term, df, postings array<struct<doc_id, dl, tf>>). A batch
    //    rewrites only its AFFECTED terms' rows (commitMerge touches
    //    only their buckets); the READ is a bucket-pruned point lookup
    //    of the query terms' keys (SnapshotLog.readKeys) — the
    //    1/Buckets scan contract, never a state-wide read at query
    //    time. (64-bit term-hash collisions would merge two terms'
    //    rows — negligible at any real vocabulary, noted not fenced.)
    //  - docs, keyed by doc_id: (dl, terms) — delete routing (which
    //    postings rows does a departing doc touch) in O(|deleted|)
    //    bucket-pruned reads, plus the dl retraction.
    //  - stats, a ONE-ROW table (k=0): exact signed N and Σdl,
    //    re-committed per batch.
    sql("text_bm25_persist",
      s"""SELECT 1 AS qid, doc_id, score FROM (
         |${bm25OracleSqlFor(bm25QueryTerms)}) q1
         |UNION ALL
         |SELECT 2 AS qid, doc_id, score FROM (
         |${bm25OracleSqlFor(bm25QueryTerms2)}) q2""".stripMargin)(bm25Persist),

    // --- the composed pipeline -----------------------------------------
    // The stages a real corpus actually flows through, composed as ONE
    // query: quality gate → repetition gate (explode + hash-agg with a
    // HAVING) → exact dedup (min doc_id per normalized fingerprint) →
    // deterministic stratified sample. Every join is an equi-join on
    // doc_id/fingerprint; nothing in the plan depends on corpus-sized
    // state in one task. The oracle chains the same CTEs, so the gate
    // checks stage COMPOSITION, not just each stage alone.
    sql("curation_pipeline",
      s"""WITH base AS (
         | SELECT doc_id, text, lang, source, length(text) AS n_chars,
         |  len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens
         | FROM documents),
         |q AS (SELECT * FROM base
         |      WHERE n_chars >= 50 AND n_chars <= 10000 AND n_tokens >= 10),
         |w AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS g
         |      FROM q),
         |wc AS (SELECT doc_id, g, COUNT(*) AS c FROM w GROUP BY doc_id, g),
         |rep AS (SELECT doc_id FROM wc GROUP BY doc_id
         |        HAVING 1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c) <= 0.85
         |           AND CAST(MAX(c) AS DOUBLE) / SUM(c) <= 0.30),
         |fp AS (SELECT q.doc_id, lang, source, n_tokens,
         |        md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
         |       FROM q JOIN rep ON rep.doc_id = q.doc_id),
         |dd AS (SELECT fp, MIN(doc_id) AS doc_id FROM fp GROUP BY fp)
         |SELECT f.doc_id, f.lang, f.source, f.n_tokens, f.fp
         |FROM fp f JOIN dd ON dd.doc_id = f.doc_id AND dd.fp = f.fp
         |WHERE substring(md5(CAST(f.doc_id AS VARCHAR) || ':' || f.lang), 1, 4) <
         | CASE ${sampleRates.map { case (l, t) => s"WHEN f.lang = '$l' THEN '$t'" }.mkString(" ")}
         |  ELSE 'g' END""".stripMargin) {
      (s, d) =>
        val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
        val base = Tables.documents(s, d).select(
          col("doc_id"), col("text"), col("lang"), col("source"),
          length(col("text")).as("n_chars"), size(toks).as("n_tokens"))
        val q = base.filter(col("n_chars") >= 50 && col("n_chars") <= 10000 &&
          col("n_tokens") >= 10)
        val rep = q.select(col("doc_id"), explode(toks).as("g"))
          .groupBy("doc_id", "g").count()
          .groupBy("doc_id").agg(
            count(lit(1)).as("nd"), sum("count").as("nw"), max("count").as("tc"))
          .filter(lit(1.0) - col("nd").cast("double") / col("nw") <= 0.85 &&
            col("tc").cast("double") / col("nw") <= 0.30)
          .select("doc_id")
        val fp = q.join(rep, "doc_id").select(
          col("doc_id"), col("lang"), col("source"), col("n_tokens"),
          md5(to_binary(trim(regexp_replace(lower(col("text")), "\\s+", " ")),
            lit("utf-8"))).as("fp"))
        val dd = fp.groupBy("fp").agg(min("doc_id").as("doc_id"))
        val threshold = sampleRates.foldLeft(lit("g")) { case (acc, (l, t)) =>
          when(col("lang") === l, lit(t)).otherwise(acc)
        }
        fp.join(dd, Seq("fp", "doc_id"))
          .filter(substring(md5(to_binary(
            concat(col("doc_id").cast("string"), lit(":"), col("lang")), lit("utf-8"))),
            1, 4) < threshold)
          .select("doc_id", "lang", "source", "n_tokens", "fp")
    },

    // --- capacity-bounded sequence packing -----------------------------
    // Greedy first-fit-in-order packing of documents into <=128-token
    // bins, per (lang, doc_id-range bucket). The oracle replays the
    // same greedy recurrence as a recursive CTE.
    sql("pack_sequences",
      s"""WITH RECURSIVE docs AS (
         | SELECT doc_id, lang, doc_id // $packBucket AS bucket,
         |  CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
         | FROM documents),
         |ord AS (SELECT *, row_number() OVER (PARTITION BY lang, bucket ORDER BY doc_id) AS rn
         |        FROM docs),
         |rec AS (
         | SELECT lang, bucket, rn, doc_id, n_tokens,
         |  CAST(0 AS BIGINT) AS bin, n_tokens AS running
         | FROM ord WHERE rn = 1
         | UNION ALL
         | SELECT o.lang, o.bucket, o.rn, o.doc_id, o.n_tokens,
         |  CASE WHEN r.running + o.n_tokens > $packCapacity THEN r.bin + 1 ELSE r.bin END,
         |  CASE WHEN r.running + o.n_tokens > $packCapacity THEN o.n_tokens
         |       ELSE r.running + o.n_tokens END
         | FROM rec r JOIN ord o
         |  ON o.lang = r.lang AND o.bucket = r.bucket AND o.rn = r.rn + 1)
         |SELECT doc_id, lang, bucket, bin, n_tokens FROM rec""".stripMargin) {
      (s, d) =>
        import s.implicits._
        Tables.documents(s, d).select(
            col("lang"),
            (col("doc_id").cast(LongType) / packBucket).cast(LongType).as("bucket"),
            col("doc_id").cast(LongType).as("doc_id"),
            size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
              .cast(LongType).as("n_tokens"))
          .as[PackIn]
          .groupByKey(p => (p.lang, p.bucket))
          .flatMapGroups { (key: (String, Long), it: Iterator[PackIn]) =>
            val (lang, bucket) = key
            val arr = it.toArray.sortBy(_.doc_id)
            var bin = 0L
            var running = 0L
            arr.iterator.map { p =>
              if (running > 0 && running + p.n_tokens > packCapacity) {
                bin += 1; running = 0L
              }
              running += p.n_tokens
              PackOut(p.doc_id, lang, bucket, bin, p.n_tokens)
            }
          }
          .toDF()
    },

    // --- cross-document boilerplate signal ------------------------------
    // The C4/RefinedWeb-style "how much of this document is corpus
    // boilerplate" score: a word bigram is COMMON when it appears in
    // ≥ 5% of all documents; each doc reports its distinct-bigram count,
    // how many of those are common, and the ratio (the gate a real
    // pipeline thresholds on). Scale shape: distinct bigrams per doc
    // via the linear native kernel → explode → ONE hash-agg for corpus
    // document frequencies (hot bigrams are map-side combined counts) →
    // the COMMON set only, broadcast, semi-joined per doc. Joining every
    // gram instance against the full df table would put a ubiquitous
    // bigram's whole document set in one task; instead the common set is
    // small BY CONSTRUCTION — #|{g : df(g) ≥ 0.05·N}| ≤ Σdf/(0.05·N) =
    // 20 × avg-grams-per-doc, independent of corpus size — so it rides
    // a broadcast hash join (no shuffle skew possible), and the per-doc
    // totals come from a plain doc_id aggregate with no join at all.
    sql("text_boilerplate_ngrams",
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        |           FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(t) >= 2
        |        THEN list_distinct(list_transform(generate_series(1, len(t)-1),
        |             i -> t[i] || ' ' || t[i+1]))
        |        ELSE [array_to_string(t, ' ')] END AS shingles FROM t),
        |g AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
        |dfc AS (SELECT g, COUNT(*) AS df FROM g GROUP BY g),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        | CAST(COUNT(CASE WHEN df >= (SELECT n FROM n) * 0.05 THEN 1 END) AS BIGINT) AS n_common,
        | CAST(COUNT(CASE WHEN df >= (SELECT n FROM n) * 0.05 THEN 1 END) AS DOUBLE) / COUNT(*)
        |   AS common_ratio
        |FROM g JOIN dfc USING (g) GROUP BY doc_id""".stripMargin) {
      (s, d) =>
        val docs = Tables.documents(s, d)
        val grams = docs.select(col("doc_id"),
          explode(graft.functions.WordShingles.word_shingles(
            regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)), 2)).as("g"))
        val nDocs = docs.agg(count(lit(1)).cast("double").as("__n"))
        val common = grams.groupBy("g").agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(nDocs))
          .filter(col("df") >= col("__n") * 0.05)
          .select(col("g"), lit(1).as("__c"))
        // ONE broadcast left join marks common grams, ONE aggregate
        // counts both totals — no second evaluation of the explode, no
        // doc_id shuffle join (count(col) skips the nulls of uncommon
        // grams)
        grams.join(broadcast(common), Seq("g"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"), count(col("__c")).as("n_common"))
          .select(col("doc_id"), col("n_grams"), col("n_common"),
            (col("n_common").cast("double") / col("n_grams")).as("common_ratio"))
    },

    // --- deterministic train/val/test split ----------------------------
    // Hash-bucket split on the DOCUMENT ID alone (md5 first byte:
    // <0xcc train ≈79.7%, <0xe6 val ≈10.2%, rest test) — the property
    // that matters in a training pipeline is STABILITY: a document's
    // split membership never changes when other documents are added or
    // removed (per-doc hash, no global count/percentile), so
    // re-splitting a grown corpus cannot leak yesterday's test set
    // into today's train set. Embarrassingly parallel: one scan, no
    // shuffle, the assignment is a per-row expression.
    sql("split_train_test",
      """SELECT doc_id, lang,
        | CASE WHEN h < 'cc' THEN 'train'
        |      WHEN h < 'e6' THEN 'val'
        |      ELSE 'test' END AS split
        |FROM (SELECT doc_id, lang,
        |       substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h
        |      FROM documents) t""".stripMargin) {
      (s, d) =>
        val h = substring(md5(to_binary(col("doc_id").cast("string"), lit("utf-8"))), 1, 2)
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            when(h < "cc", "train").when(h < "e6", "val")
              .otherwise("test").as("split"))
    },

    // --- the CURATION FUNNEL: the pipeline stages composed -------------
    // What an actual pre-training data run reports: survivor counts
    // through held-out exclusion → language ID → quality gate (length
    // + lexical diversity) → boilerplate-prefix dedup (keep the
    // smallest doc_id per 16-token opening — templated near-copies
    // share openings; the fixture has no byte-exact dupes) →
    // 3-gram decontamination against the held-out set. Every stage is
    // a scan/hash-aggregate/equi-join shape — the funnel inherits each
    // operator's 100 TB posture; the six 1-row stage aggregates union
    // into the report (no driver-side counting).
    sql("curation_funnel",
      """WITH d0 AS (SELECT doc_id, lang, text FROM documents),
        |d1 AS (SELECT * FROM d0 WHERE doc_id % 97 <> 0),
        |d2 AS (SELECT * FROM d1 WHERE lang = 'en'),
        |t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM d2),
        |q3 AS (SELECT d2.* FROM d2 JOIN (
        |        SELECT doc_id FROM (SELECT doc_id, unnest(toks) AS w FROM t)
        |        GROUP BY doc_id
        |        HAVING COUNT(*) >= 30 AND COUNT(DISTINCT w) * 10 >= COUNT(*) * 4) k USING (doc_id)),
        |p AS (SELECT doc_id, md5(array_to_string(
        |        list_slice(regexp_extract_all(lower(text), '[a-z0-9]+'), 1, 16), ' ')) AS pfx
        |      FROM q3),
        |d4 AS (SELECT q3.* FROM q3 JOIN (SELECT MIN(doc_id) AS doc_id FROM p GROUP BY pfx) k USING (doc_id)),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(tk) - 2),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS grams
        |       FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM d0)
        |       WHERE len(tk) >= 3),
        |ex AS (SELECT doc_id, unnest(grams) AS g FROM sh),
        |ev AS (SELECT doc_id AS eval_id, g FROM ex WHERE doc_id % 97 = 0),
        |contam AS (SELECT DISTINCT t2.doc_id
        |           FROM (SELECT doc_id, g FROM ex WHERE doc_id % 97 <> 0) t2
        |           JOIN ev USING (g) GROUP BY t2.doc_id, eval_id HAVING COUNT(*) >= 3),
        |d5 AS (SELECT * FROM d4 WHERE doc_id NOT IN (SELECT doc_id FROM contam))
        |SELECT * FROM (VALUES
        | (1, 'total', (SELECT COUNT(*) FROM d0)),
        | (2, 'not_heldout', (SELECT COUNT(*) FROM d1)),
        | (3, 'lang_en', (SELECT COUNT(*) FROM d2)),
        | (4, 'quality', (SELECT COUNT(*) FROM q3)),
        | (5, 'prefix_dedup', (SELECT COUNT(*) FROM d4)),
        | (6, 'decontaminated', (SELECT COUNT(*) FROM d5))) v(stage, stage_name, n_docs)""".stripMargin) {
      (s, d) =>
        import graft.functions.WordShingles.word_shingles
        val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
        val d0 = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
        val d1 = d0.filter(col("doc_id") % 97 =!= 0)
        val d2 = d1.filter(col("lang") === "en")
        val quality = d2.select(col("doc_id"), explode(toks).as("w"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n"), countDistinct(col("w")).as("nd"))
          .filter(col("n") >= 30 && col("nd") * 10 >= col("n") * 4)
          .select("doc_id")
        val q3 = d2.join(quality, "doc_id")
        val keep4 = q3.select(col("doc_id"),
            md5(to_binary(concat_ws(" ", slice(toks, 1, 16)), lit("utf-8"))).as("pfx"))
          .groupBy(col("pfx")).agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id")
        val d4 = q3.join(keep4, "doc_id")
        val ex = d0.select(col("doc_id"), toks.as("tk"))
          .filter(size(col("tk")) >= 3)
          .select(col("doc_id"), explode(word_shingles(col("tk"), 3)).as("g"))
        val ev = ex.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id").as("eval_id"), col("g"))
        val contam = ex.filter(col("doc_id") % 97 =!= 0)
          .join(ev, "g")
          .groupBy(col("doc_id"), col("eval_id"))
          .agg(count(lit(1)).as("sg")).filter(col("sg") >= 3)
          .select("doc_id").distinct()
        val d5 = d4.join(contam, Seq("doc_id"), "left_anti")
        def stage(i: Int, name: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_docs"))
            .select(lit(i).as("stage"), lit(name).as("stage_name"), col("n_docs"))
        stage(1, "total", d0)
          .unionAll(stage(2, "not_heldout", d1))
          .unionAll(stage(3, "lang_en", d2))
          .unionAll(stage(4, "quality", q3))
          .unionAll(stage(5, "prefix_dedup", d4))
          .unionAll(stage(6, "decontaminated", d5))
    },

    // The funnel MAINTAINED under a document changelog: per-stage
    // counts update incrementally as docs insert and delete — batch 1
    // inserts the corpus, batch 2 deletes a churn set (keeper handoff:
    // deleting a prefix-dedup keeper promotes the runner-up, possibly
    // flipping the decontaminated count), batch 3 re-inserts it, so
    // the final state equals the corpus and the SAME 6-row oracle
    // gates the result. Same per-stage semantics as curation_funnel.
    sql("curation_funnel_stream",
      """WITH d0 AS (SELECT doc_id, lang, text FROM documents),
        |d1 AS (SELECT * FROM d0 WHERE doc_id % 97 <> 0),
        |d2 AS (SELECT * FROM d1 WHERE lang = 'en'),
        |t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM d2),
        |q3 AS (SELECT d2.* FROM d2 JOIN (
        |        SELECT doc_id FROM (SELECT doc_id, unnest(toks) AS w FROM t)
        |        GROUP BY doc_id
        |        HAVING COUNT(*) >= 30 AND COUNT(DISTINCT w) * 10 >= COUNT(*) * 4) k USING (doc_id)),
        |p AS (SELECT doc_id, md5(array_to_string(
        |        list_slice(regexp_extract_all(lower(text), '[a-z0-9]+'), 1, 16), ' ')) AS pfx
        |      FROM q3),
        |d4 AS (SELECT q3.* FROM q3 JOIN (SELECT MIN(doc_id) AS doc_id FROM p GROUP BY pfx) k USING (doc_id)),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(tk) - 2),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS grams
        |       FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM d0)
        |       WHERE len(tk) >= 3),
        |ex AS (SELECT doc_id, unnest(grams) AS g FROM sh),
        |ev AS (SELECT doc_id AS eval_id, g FROM ex WHERE doc_id % 97 = 0),
        |contam AS (SELECT DISTINCT t2.doc_id
        |           FROM (SELECT doc_id, g FROM ex WHERE doc_id % 97 <> 0) t2
        |           JOIN ev USING (g) GROUP BY t2.doc_id, eval_id HAVING COUNT(*) >= 3),
        |d5 AS (SELECT * FROM d4 WHERE doc_id NOT IN (SELECT doc_id FROM contam))
        |SELECT * FROM (VALUES
        | (1, 'total', (SELECT COUNT(*) FROM d0)),
        | (2, 'not_heldout', (SELECT COUNT(*) FROM d1)),
        | (3, 'lang_en', (SELECT COUNT(*) FROM d2)),
        | (4, 'quality', (SELECT COUNT(*) FROM q3)),
        | (5, 'prefix_dedup', (SELECT COUNT(*) FROM d4)),
        | (6, 'decontaminated', (SELECT COUNT(*) FROM d5))) v(stage, stage_name, n_docs)""".stripMargin)(
      funnelStream)
  )

  /** Streamed-funnel event: one signed document with its STATIC
    * per-doc stage attributes (held-out flag, language, quality pass,
    * dedup prefix, contamination vs the FIXED eval set — the eval
    * benchmark is not part of corpus churn, so these ride each event
    * unchanged). */
  final case class FunnelDoc(seq: Long, sign: Int, docId: Long, held: Boolean,
                             en: Boolean, quality: Boolean, pfx: String,
                             contam: Boolean)
  /** Per-prefix dedup-group state: the LIVE quality docs (docId →
    * contaminated). The group's keeper is its min docId; stages 5/6
    * are keeper-existence / keeper-cleanliness flips. */
  final case class FunnelState(live: List[(Long, Boolean)])
  final case class FunnelDelta(s1: Long, s2: Long, s3: Long, s4: Long,
                               s5: Long, s6: Long)

  /** `curation_funnel` through the CONTINUOUS engine: stages 1–4 are
    * signed counts (memoryless per event); stages 5–6 are per-prefix
    * keeper flips maintained in `flatMapGroupsWithState` — a keeper
    * delete promotes the group's runner-up (and its contamination
    * status decides the stage-6 move) without rescanning the corpus.
    * Per-doc attributes are enriched ONCE batch-side (the same kernels
    * as the batch entry) and ride the events; at 100 TB the enrichment
    * is the one corpus scan and the maintenance is per-group state. */
  def funnelStream(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import graft.functions.WordShingles.word_shingles
    import graft.streaming.IncrementalQueries.{boundedReplayCollect, replay, MemorySink}
    import s.implicits._
    val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val d0 = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
    val qual = d0.select(col("doc_id"), explode(toks).as("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), countDistinct(col("w")).as("nd"))
    val sh = d0.select(col("doc_id"), toks.as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), explode(word_shingles(col("tk"), 3)).as("g"))
    val ev = sh.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("eval_id"), col("g"))
    val contam = sh.filter(col("doc_id") % 97 =!= 0).join(ev, "g")
      .groupBy(col("doc_id"), col("eval_id")).agg(count(lit(1)).as("sg"))
      .filter(col("sg") >= 3).select("doc_id").distinct()
      .withColumn("is_contam", lit(true))
    val enriched = d0
      .join(qual, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("doc_id") % 97 === 0).as("held"),
        (col("lang") === "en").as("en"),
        (col("doc_id") % 97 =!= 0 && col("lang") === "en" &&
          coalesce(col("n"), lit(0L)) >= 30 &&
          coalesce(col("nd"), lit(0L)) * 10 >= coalesce(col("n"), lit(0L)) * 4)
          .as("quality"),
        md5(to_binary(concat_ws(" ", slice(toks, 1, 16)), lit("utf-8"))).as("pfx"),
        coalesce(col("is_contam"), lit(false)).as("contam"))
      .as[(Long, Boolean, Boolean, Boolean, String, Boolean)]
    val base = boundedReplayCollect("curation_funnel_stream", enriched).toSeq
    def evt(seq: Long, sign: Int, r: (Long, Boolean, Boolean, Boolean, String, Boolean)) =
      FunnelDoc(seq, sign, r._1, r._2, r._3, r._4, r._5, r._6)
    // churn NON-eval docs only: the eval set defines contamination and
    // is a fixed benchmark, not corpus churn
    val churn = base.filter(r => !r._2 && r._1 % 5 == 0)
    val batches = Seq(base.map(evt(0, 1, _)),
      churn.map(evt(1, -1, _)), churn.map(evt(2, 1, _))).map(Seq(_))
    val sink = replay(s, MemorySink("curation_funnel_stream_sink"), batches) {
      (_, streams) => streams.head.groupByKey(_.pfx)
        .flatMapGroupsWithState[FunnelState, FunnelDelta](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (_, it, state) =>
            val in = it.toList
            def cnt(p: FunnelDoc => Boolean): Long =
              in.collect { case e if p(e) => e.sign.toLong }.sum
            val beforeMap = state.getOption.map(_.live.toMap)
              .getOrElse(Map.empty[Long, Boolean])
            val afterMap = in.filter(_.quality)
              .groupBy(_.docId).view
              .mapValues(es => (es.map(_.sign).sum, es.head.contam))
              .foldLeft(beforeMap) { case (m, (id, (net, c))) =>
                if (net > 0) m + (id -> c)
                else if (net < 0) m - id
                else m
              }
            def keeper(m: Map[Long, Boolean]): Option[(Long, Boolean)] =
              if (m.isEmpty) None else Some(m.minBy(_._1))
            val (kb, ka) = (keeper(beforeMap), keeper(afterMap))
            if (afterMap.isEmpty) state.remove()
            else state.update(FunnelState(afterMap.toList))
            Iterator.single(FunnelDelta(
              cnt(_ => true), cnt(!_.held), cnt(e => !e.held && e.en),
              cnt(_.quality),
              ka.size.toLong - kb.size.toLong,
              (if (ka.exists(!_._2)) 1L else 0L) - (if (kb.exists(!_._2)) 1L else 0L)))
        }
    }
    val sums = sink.agg(
      sum("s1").as("s1"), sum("s2").as("s2"), sum("s3").as("s3"),
      sum("s4").as("s4"), sum("s5").as("s5"), sum("s6").as("s6"))
    Seq((1, "total", "s1"), (2, "not_heldout", "s2"), (3, "lang_en", "s3"),
      (4, "quality", "s4"), (5, "prefix_dedup", "s5"), (6, "decontaminated", "s6"))
      .map { case (i, nm, c) =>
        sums.select(lit(i).as("stage"), lit(nm).as("stage_name"),
          coalesce(col(c), lit(0L)).cast("long").as("n_docs"))
      }.reduce(_ unionAll _)
  }
}
