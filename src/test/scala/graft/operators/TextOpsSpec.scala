package graft.operators

import graft.SparkTestBase

/** Dedup / similarity / text-analysis operator tests with planted duplicates
  * and hand-checkable vectors. */
class TextOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("exact dedup stats count duplicate groups") {
    val d = docs((1L, "aa bb"), (2L, "aa bb"), (3L, "cc"), (4L, "aa bb"), (5L, "dd"))
    val r = TextOps.exactDupStats(d, "text").head()
    assert(r.getAs[Long]("n_groups") === 3L)
    assert(r.getAs[Long]("n_dup_rows") === 3L)
    assert(r.getAs[Long]("max_group") === 3L)
  }

  test("minhash LSH finds planted near-duplicates and skips distinct docs") {
    val base = (1 to 60).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 60).map(i => if (i == 30) "changed" else s"token$i").mkString(" ")
    val rnd = new scala.util.Random(3)
    val others = (10L to 40L).map(i =>
      (i, (1 to 60).map(_ => s"w${rnd.nextInt(5000)}").mkString(" ")))
    val d = docs(Seq((1L, base), (2L, nearDup)) ++ others: _*)
    val pairs = TextOps.minhashDupPairs(d, "doc_id", "text", shingleN = 3, k = 64,
      bands = 16, threshold = 0.5).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    assert(pairs.forall(_.getLong(2) >= 5000L)) // j4 scale
    assert(pairs.length < 5, s"false positives: ${pairs.mkString(";")}")
  }

  test("minhash exact-dedup pre-pass reconstructs duplicate pair mass without candidate explosion") {
    // 50 copies of A, 30 copies of B (near-dup of A), 5 unrelated docs:
    // old shape would enumerate C(80,2)*16 bands of candidates; new shape
    // runs LSH over 7 distinct texts and reconstructs the counts.
    val a = (1 to 50).map(i => s"tok$i").mkString(" ")
    val b = (1 to 50).map(i => if (i == 25) "x" else s"tok$i").mkString(" ")
    val rows = (0L until 50L).map(i => (i, a)) ++ (100L until 130L).map(i => (i, b)) ++
      Seq((200L, "p q r s t u v w"), (201L, "z y x w v"), (202L, "completely different text here"))
    val pairs = TextOps.minhashDupPairs(docs(rows: _*), "doc_id", "text").collect()
    val intra = pairs.filter(r => r.getLong(0) == r.getLong(1))
    val cross = pairs.filter(r => r.getLong(0) != r.getLong(1))
    assert(intra.map(_.getAs[Long]("n_pairs")).sorted.toSeq === Seq(50L * 49 / 2, 30L * 29 / 2).sorted)
    assert(intra.forall(_.getAs[Long]("j4") == 10000L))
    assert(cross.length === 1) // A-rep x B-rep
    assert(cross.head.getAs[Long]("n_pairs") === 50L * 30)
    // total duplicate-pair mass: C(50,2) + C(30,2) + 50*30
    assert(pairs.map(_.getAs[Long]("n_pairs")).sum === 1225L + 435L + 1500L)
  }

  test("simhash hamming distance separates near-dups from unrelated docs") {
    // identical token multiset except one swap ⇒ tiny hamming distance; the
    // 4×16-bit banding guarantees recall only for hamming ≤ 3, so the planted
    // dup must be that close (and is: one token in 200)
    val base = (1 to 200).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 200).map(i => if (i == 77) "changed" else s"token$i").mkString(" ")
    val d = docs((1L, base), (2L, nearDup), (3L, (900 to 999).map(i => s"other$i").mkString(" ")))
    val fp = d.select($"doc_id", TextOps.simhash($"text").as("f")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nearHamming = java.lang.Long.bitCount(fp(1L) ^ fp(2L))
    assert(nearHamming <= 3, s"planted near-dup hamming $nearHamming")
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(3L)) > 10)
    val pairs = TextOps.simhashDupPairs(d, "doc_id", "text", maxHamming = 3).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
  }

  test("language guesser identifies clearly-marked languages") {
    val d = Seq(
      ("en", "the cat and the dog are in the house with this thing"),
      ("de", "der hund und die katze ist nicht mit der maus in den garten"),
      ("fr", "le chat est dans la maison avec les chiens et pour une souris"),
      ("es", "el gato es una mascota del mundo por los perros con para que"),
      ("ru", "это русский текст про кошек и собак"),
      ("zh", "这是一段关于猫和狗的中文文本"),
      ("ja", "これは猫と犬についての日本語のテキストです")
    ).toDF("expected", "text")
    val got = d.select($"expected", TextOps.langGuess($"text").as("got")).collect()
    got.foreach(r => assert(r.getString(0) === r.getString(1), r.toString))
  }

  test("quality stats compute sane token/char ratios") {
    val r = docs((1L, "Hello, world! This is fine.")).select(TextOps.qualityStats($"text").as("q"))
      .select($"q.n_chars", $"q.n_tokens", $"q.alpha_ratio", $"q.punct_ratio").head()
    assert(r.getInt(0) === 27)
    assert(r.getInt(1) === 5)
    assert(r.getDouble(2) > 0.6 && r.getDouble(2) < 1.0)
    assert(r.getDouble(3) > 0.0 && r.getDouble(3) < 0.2)
  }

  test("brute-force top-k cosine matches a hand computation") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)), // closest to 0
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.5f, 0.5f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f))  // orthogonal
    ).toDF("vec_id", "embedding")
    val top = TextOps.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0L), "vec_id", "embedding", 2)
      .orderBy($"rank").collect()
    assert(top.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(1L, 3L))
  }

  test("LSH top-k achieves decent recall vs brute force on random vectors") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 300L).map(i => (i, Array.fill(32)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" < 3)
    val exact = TextOps.bruteForceTopK(vecs, q, "vec_id", "embedding", 5)
      .select($"query_id", $"neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = TextOps.lshTopK(vecs, q, "vec_id", "embedding", 5, planes = 16, bands = 8)
      .select($"query_id", $"neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall $recall too low") // LSH is approximate; banding keeps it ≥ chance
  }

  test("winnowing fingerprints detect a shared passage, position-independent") {
    val passage = "the quick brown fox jumps over the lazy dog again and again"
    val a = "AAAA BBBB " + passage + " CCCC"
    val b = "XXXXXXXX YYYY ZZZZ " + passage // same passage, different offset
    val c = "totally unrelated words everywhere here nothing in common at all"
    val d = docs((1L, a), (2L, b), (3L, c))
    val pairs = TextOps.fingerprintDupPairs(d, "doc_id", "text", minShared = 2).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L), pairs.mkString(";"))
    assert(!pairs.exists(r => r.getLong(1) == 3L || r.getLong(0) == 3L))
    // fingerprints are position-independent: identical texts share ALL of them
    val fps = d.select($"doc_id", TextOps.winnow($"text")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fps(1L).toSet.intersect(fps(2L).toSet).size >= 2)
  }

  test("embedding dup pairs: scaled copies are found with cosine 1, strangers are not") {
    val rnd = new scala.util.Random(7)
    val base = (0L until 50L).map(i => (i, Array.fill(16)(rnd.nextGaussian())))
    val all = (base ++ base.map { case (i, v) => (i + 1000L, v.map(_ * 2.0)) })
      .toDF("vec_id", "v")
    val pairs = TextOps.embeddingDupPairs(all, "vec_id", "v", threshold = 0.9).collect()
    assert(pairs.length === 50, s"expected exactly the 50 planted pairs, got ${pairs.length}")
    pairs.foreach { r =>
      assert(r.getLong(1) === r.getLong(0) + 1000L)
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
    }
  }

  test("BPE-ish token count splits letters, digits and punctuation") {
    val r = docs((1L, """{"key": 42, "x": "ab-cd"}""")).select(TextOps.bpeTokenCount($"text")).head()
    // { " key " : 42 , " x " : " ab - cd " } = 17 tokens
    assert(r.getInt(0) === 17)
  }

  test("token shingles produce n-grams") {
    val got = docs((1L, "a b c d")).select(TextOps.tokenShingles($"text", 2).as("s"))
      .head().getSeq[String](0)
    assert(got === Seq("a b", "b c", "c d"))
  }
}
