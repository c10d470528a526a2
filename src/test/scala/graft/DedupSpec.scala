package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.functions.TextFunctions

/** Approximate dedup operators (MinHash-LSH, SimHash) verified
  * against the exact n-gram Jaccard ground truth — they have no SQL
  * oracle (hash functions aren't portable), so this spec IS their
  * correctness gate (SURVEY.md §5.3).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables(spark, sf(), "documents")

  /** Exact Jaccard pairs at the given threshold — ground truth. */
  private def exactPairs(threshold: Double): Set[(Long, Long)] =
    Dedup.jaccardShinglePairs(docs, "doc_id", "text", 3, threshold)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet

  test("minhash-LSH finds every strong near-dup pair, no false positives") {
    val truth = exactPairs(0.6)
    assert(truth.nonEmpty, "testdata should contain planted near-dups")
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, k = 128, bands = 32, threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // Verification step is exact Jaccard → zero false positives.
    assert((lsh -- truth).isEmpty, s"false positives: ${lsh -- truth}")
    // At jac≥0.6 with b=32,r=4 the per-pair detection probability is
    // 1-(1-0.6^4)^32 ≈ 0.99; planted pairs are ≈0.9 → recall 100%.
    assert(lsh == truth, s"missed pairs: ${truth -- lsh}")
  }

  test("minhash signature approximates Jaccard") {
    val sigs = docs.select($"doc_id",
      graft.plans.Sketches.minhashSignature(
        array_distinct(TextFunctions.wordShingles($"text", 3)), 128)
        .as("sig"))
    // signature agreement rate ≈ jaccard for one known planted pair
    val truth = exactPairs(0.8)
    assume(truth.nonEmpty)
    val (ia, ib) = truth.head
    val Seq(sa, sb) = sigs.filter($"doc_id".isin(ia, ib))
      .orderBy($"doc_id").select("sig").as[Seq[Long]].collect().toSeq
    val agree = sa.zip(sb).count { case (x, y) => x == y } / 128.0
    val exactJac = Dedup
      .jaccardShinglePairs(docs, "doc_id", "text", 3, 0.0)
      .filter($"id_a" === math.min(ia, ib) && $"id_b" === math.max(ia, ib))
      .select("jaccard").as[Double].head()
    assert(math.abs(agree - exactJac) < 0.15,
      s"minhash estimate $agree vs exact $exactJac")
  }

  test("simhash: near-dup pairs have small hamming distance, others large") {
    val truth = exactPairs(0.8)
    assume(truth.nonEmpty)
    val sketched = docs.select($"doc_id",
      graft.plans.Sketches.simhash64(TextFunctions.wordShingles($"text", 3))
        .as("sim"))
    val sims = sketched.as[(Long, Long)].collect().toMap
    val dupHams = truth.toSeq.map { case (a, b) =>
      java.lang.Long.bitCount(sims(a) ^ sims(b))
    }
    // simhash is an approximation of jaccard: most strong near-dups
    // land within hamming 7, stragglers stay well under the ~32 of
    // unrelated docs
    assert(dupHams.count(_ <= 7) >= dupHams.size * 0.8,
      s"most near-dups should be close in simhash space: $dupHams")
    assert(dupHams.forall(_ <= 16),
      s"near-dups should never look unrelated: $dupHams")
    // shingle-based sketches of unrelated docs ≈ uncorrelated →
    // hamming concentrates around 32
    val ids = sims.keys.toSeq.sorted.take(40)
    val randHams = for {
      Seq(a, b) <- ids.sliding(2).toSeq
      if !truth.contains((a, b))
    } yield java.lang.Long.bitCount(sims(a) ^ sims(b))
    assert(randHams.sum.toDouble / randHams.size > 24,
      s"unrelated docs should differ in ~half the bits: $randHams")
  }

  test("simhashPairs == brute-force hamming pairs (banding is lossless ≤7)") {
    // The operator's actual contract: 8×8-bit banding recalls EVERY
    // pair at hamming ≤ 7 (pigeonhole), and verification removes all
    // banding false positives — so it must equal the brute-force set.
    val sketched = docs.select($"doc_id",
      graft.plans.Sketches.simhash64(TextFunctions.wordShingles($"text", 3))
        .as("sim"))
    val sims = sketched.as[(Long, Long)].collect()
    val brute = (for {
      (a, sa) <- sims; (b, sb) <- sims
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 7
    } yield (a, b)).toSet
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == brute,
      s"missed: ${brute -- pairs}; extra: ${pairs -- brute}")
    // and the hamming-7 set captures the bulk of the strong jaccard dups
    val truth = exactPairs(0.8)
    assert((truth & pairs).size >= truth.size * 0.8,
      s"simhash should catch most strong near-dups: missing ${truth -- pairs}")
  }

  test("connectedComponents: chains merge, disjoint pairs stay apart") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 9L), // chain → cluster 1
      (20L, 21L), // separate pair → cluster 20
      (30L, 40L), (31L, 40L) // shared sink → cluster 30
    ).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 40L -> 30L, 31L -> 30L))
    // component labels are fixpoint-stable: re-running on the
    // derived (id, cluster_id) edges changes nothing
    val again = Dedup.connectedComponents(
      got.toSeq.toDF("id_a", "id_b").filter($"id_a" =!= $"id_b"),
      "id_a", "id_b").as[(Long, Long)].collect().toMap
    // exact equality: every root appears as an edge endpoint and
    // keeps its label, so a correct re-run reproduces `got` verbatim
    // (the earlier `got(id) == c || id == c` escape hatch also
    // passed a run that fragmented every cluster into singletons)
    assert(again == got, s"labels not fixpoint-stable: $again vs $got")
  }

  test("connectedComponents: distributed loop == driver union-find") {
    // the harness-scale queries take the driver union-find shortcut;
    // force driverMaxEdges = 0 to exercise the distributed
    // pointer-jumping loop (the 100 TB path) and pin both paths to
    // identical labels — on the fixture AND on a real near-dup graph
    val fixture = Seq(
      (1L, 2L), (2L, 3L), (3L, 9L), (20L, 21L),
      (30L, 40L), (31L, 40L), (9L, 50L), (50L, 51L)
    ).toDF("id_a", "id_b")
    val driver = Dedup.connectedComponents(fixture, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(fixture, "id_a", "id_b",
        driverMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(driver.nonEmpty && dist == driver)
    val realPairs = Dedup.minhashLshPairs(
      Tables(spark, sf(), "documents").limit(200), "doc_id", "text",
      3, 128, 32, 0.5)
    val d2 = Dedup.connectedComponents(realPairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    val p2 = Dedup.connectedComponents(realPairs, "id_a", "id_b",
        driverMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(d2.nonEmpty,
      "real near-dup graph is empty — the comparison is vacuous")
    assert(p2 == d2)
  }

  test("connectedComponents: null-endpoint pairs dropped by BOTH paths") {
    // a pair with a null endpoint is not an edge; previously the
    // driver path skipped it while the distributed path self-labeled
    // the non-null node — the size switch changed RESULTS
    val pairs = Seq(
      (Some(5L), Option.empty[Long]),
      (Option.empty[Long], Some(6L)),
      (Some(1L), Some(2L)))
      .toDF("id_a", "id_b")
    val driver = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(pairs, "id_a", "id_b",
        driverMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(driver == Map(1L -> 1L, 2L -> 1L), s"driver: $driver")
    assert(dist == driver, s"paths diverge: $dist vs $driver")
  }

  test("minhashLshIncremental == full-corpus LSH restricted to cross-side") {
    // batch-vs-index must find exactly the pairs the full self-join
    // finds between the two sides — banding and verification are the
    // same math, only the join shape changes
    val inc = Dedup.minhashLshIncremental(
        docs.filter($"doc_id" % 5 === 4), docs.filter($"doc_id" % 5 =!= 4),
        "doc_id", "text", n = 3, k = 128, bands = 32, threshold = 0.5)
      .select($"new_id", $"corpus_id").as[(Long, Long)].collect().toSet
    val full = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, k = 128, bands = 32, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val cross = full.collect {
      case (a, b) if a % 5 == 4 && b % 5 != 4 => (a, b)
      case (a, b) if b % 5 == 4 && a % 5 != 4 => (b, a)
    }
    assert(inc.nonEmpty, "expected planted near-dups across the split")
    assert(inc == cross,
      s"missed: ${cross -- inc}; spurious: ${inc -- cross}")
  }

  test("ngramContamination: planted leak fully flagged, bench side broadcast") {
    // train doc 9001 IS bench doc 1's text (a full eval-set leak),
    // 9002 is novel text sharing no 3-gram with the bench side
    val bench = docs.filter($"doc_id" < 10).select($"doc_id", $"text")
    val train = bench.select(($"doc_id" + 9000).as("doc_id"), $"text")
      .where($"doc_id" === 9001)
      .unionByName(Seq((9002L,
        "zq wv xk jm pq rr tt uu vv ww")).toDF("doc_id", "text"))
    val res = Dedup.ngramContamination(train, bench, "doc_id", "text", 3)
    assert(res.columns.toSeq ==
      Seq("id", "n_contaminated", "n_grams", "contaminated_frac"))
    val full = res.filter($"id" === 9001)
      .select($"contaminated_frac").as[Double].collect()
    assert(full.sameElements(Array(1.0)), s"leaked doc not fully flagged")
    assert(res.filter($"id" === 9002).isEmpty,
      "clean doc must not appear in the contaminated set")
    // scale shape: the bench shingle set must broadcast — the train
    // corpus side never shuffles for the match
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"bench side should broadcast:\n$plan")
  }
}
