package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** Property tests for the round-3 pipeline operators: connected components
  * against a sequential union-find on random graphs, and canonicalization
  * laws for URLs (idempotence — canonicalizing a canonical URL is the
  * identity, the defining property of a canonical form).
  */
class OpsPropertiesSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def check(p: Prop, minTests: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(minTests), p)
    assert(res.passed, res.status.toString)
  }

  test("connected components == sequential union-find on random graphs") {
    import spark.implicits._
    val edgeGen: Gen[List[(Long, Long)]] =
      Gen.listOf(Gen.zip(Gen.choose(0L, 24L), Gen.choose(0L, 24L)))
    // few Spark rounds, each with a decent-size random graph (a per-case
    // Spark fixpoint at ScalaCheck's default 100 cases would take minutes)
    check(Prop.forAll(edgeGen) { edges =>
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val vertices = edges.flatMap(e => List(e._1, e._2)).distinct
      val want = vertices.map(v => v -> find(v)).toMap
      val got =
        if (edges.isEmpty) Map.empty[Long, Long]
        else DupClusters.connectedComponents(spark, edges.toDF("src", "dst"),
          // explicit vertices: a vertex appearing ONLY in self-loops still
          // belongs in the output as its own singleton component
          vertices = Some(vertices.toDF("id")))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // union-find roots are already the component minima (min-merge rule)
      got == want
    }, minTests = 12)
  }

  test("canonicalizeUrl is idempotent over generated messy URLs") {
    import spark.implicits._
    val seg = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    val urlGen: Gen[String] = for {
      scheme <- Gen.oneOf("http", "HTTP", "https", "HTTPS")
      user <- Gen.option(seg)
      host <- Gen.oneOf("Example.COM", "h.io", "Sub.Dom.org")
      port <- Gen.oneOf("", ":80", ":443", ":8080")
      path <- Gen.listOf(seg).map(ps => if (ps.isEmpty) "" else ps.mkString("/", "/", ""))
      slashes <- Gen.oneOf("", "/", "///")
      params <- Gen.listOf(Gen.oneOf("a=1", "z=9", "utm_source=x", "utm_b", "gclid=g", "b=2", "ref=r"))
      frag <- Gen.oneOf("", "#f", "#sec2")
    } yield {
      val q = if (params.isEmpty) "" else params.mkString("?", "&", "")
      s"$scheme://${user.map(_ + "@").getOrElse("")}$host$port$path$slashes$q$frag"
    }
    // batch the property: generate many URLs, run ONE Spark job for all
    val urls = Iterator.continually(Gen.listOfN(400, urlGen).sample).flatten.next()
    val once = urls.toDF("url")
      .select(UrlOps.canonicalizeUrl(col("url")).as("c1")).as[String].collect()
    val twice = once.toSeq.toDF("url")
      .select(UrlOps.canonicalizeUrl(col("url")).as("c2")).as[String].collect()
    once.zip(twice).foreach { case (c1, c2) =>
      assert(c1 == c2, s"not idempotent: $c1 -> $c2")
    }
    // and no canonical URL retains tracking params, its scheme's default
    // port, fragments, or userinfo
    once.foreach { c =>
      assert(!c.contains("utm_") && !c.contains("gclid") && !c.contains("ref="), c)
      assert(!(c.startsWith("http://") && (c.contains(":80/") || c.endsWith(":80"))), c)
      assert(!(c.startsWith("https://") && (c.contains(":443/") || c.endsWith(":443"))), c)
      assert(!c.contains("#") && !c.contains("@"), c)
    }
  }

  test("stratified sampling: a higher rate keeps a SUPERSET (nested-sample law)") {
    import spark.implicits._
    // the defining property of threshold sampling over one hash: raising a
    // stratum's rate only ADDS documents — the training mix can be re-
    // weighted without resampling (a fresh df.sample would reshuffle
    // membership). One Spark job per rate, ids compared driver-side.
    val rows = (0L until 3000L).map(i => (i, s"src${i % 3}")).toDF("doc_id", "source")
    def keep(rate: Double): Set[Long] = Sampling.stratifiedSample(
      rows, col("source"), col("doc_id"), Map.empty, defaultRate = rate)
      .collect().map(_.getLong(0)).toSet
    val r02 = keep(0.2)
    val r05 = keep(0.5)
    val r08 = keep(0.8)
    assert(r02.subsetOf(r05), s"${(r02 -- r05).size} ids lost raising 0.2 -> 0.5")
    assert(r05.subsetOf(r08), s"${(r05 -- r08).size} ids lost raising 0.5 -> 0.8")
    assert(r02.size < r05.size && r05.size < r08.size)
  }

  test("token-budget cap == sequential per-stratum reference on random weights") {
    import spark.implicits._
    val rowsGen: Gen[List[(Long, String, Long)]] =
      Gen.listOf(Gen.zip(Gen.choose(0L, 60L), Gen.oneOf("a", "b", "c"), Gen.choose(1L, 9L)))
        .map(_.groupBy(_._1).map(_._2.head).toList) // unique order keys (the op's contract)
    check(Prop.forAll(rowsGen) { rows =>
      rows.isEmpty || {
        val got = Salting.capPerStratumBudget(
          rows.toDF("doc_id", "src", "w").repartition(4),
          col("src"), col("doc_id"), col("w"), budget = 20)
          .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
        val want = rows.groupBy(_._2).toSeq.flatMap { case (_, rs) =>
          var acc = 0L
          rs.sortBy(_._1).takeWhile { r => acc += r._3; acc <= 20 }
        }.map(r => (r._1, r._2)).sortBy(_._1)
        got == want
      }
    }, minTests = 10)
  }

  // the tokenizer's adversarial alphabet: whitespace that `\s` and SQL
  // trim treat differently, case-mapping edge cases (final sigma, dotted
  // capital I, sharp s) and astral codepoints
  private val kernelText: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaChar.map(_.toString),
    4 -> Gen.oneOf(" ", "  ", "\t", "\n", "\u000B", "\u00A0"),
    2 -> Gen.oneOf("Σ", "σ", "ς", "İ", "ß"),
    1 -> Gen.oneOf("😀", "𝔸", "🜁"))).map(_.mkString)

  test("TextKernel.lowerWords == SQL-trim, ROOT-lowercase, \\s+ split, empties dropped") {
    check(Prop.forAll(kernelText) { s =>
      val reference = TextAnalysis.sqlTrim(s).toLowerCase(java.util.Locale.ROOT)
        .split("\\s+").filter(_.nonEmpty)
      TextKernel.lowerWords(s).sameElements(reference)
    }, minTests = 2000)
  }

  test("TextKernel.polyGramHash == polyHash of the joined gram (short and k-window branches)") {
    val gen = for { s <- kernelText; k <- Gen.choose(1, 5) } yield (TextKernel.lowerWords(s), k)
    check(Prop.forAll(gen) { case (tokens, k) =>
      if (tokens.length < k)
        TextKernel.polyGramHash(tokens, 0, tokens.length) == TextKernel.polyHash(tokens.mkString(" "))
      else (0 to tokens.length - k).forall { i =>
        TextKernel.polyGramHash(tokens, i, k) == TextKernel.polyHash(tokens.slice(i, i + k).mkString(" "))
      }
    }, minTests = 1000)
  }
}
