package perfbench

import graft.functions.TextFunctions
import graft.operators.{Clean, Decontaminate, Dedup, Pack, QualityFilter, Sample}
import graft.plans.Checkpoints
import graft.sources.Ingest
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/**
 * The curation part of [[Batch]]: a text corpus goes through the training-data
 * funnel — clean, Gopher quality filter, exact dedup, MinHash pairs,
 * connected components (keep one document per component),
 * decontamination against an eval set, then hash sampling and token-budget
 * packing. Each stage is materialized with `Checkpoints.truncate`, and the
 * previous stage's checkpoint is freed with `Checkpoints.release`.
 *
 * The corpus has planted near-duplicate clusters (a base document, 1–3
 * variants with one or two words replaced, sometimes a copy differing only
 * in whitespace), a known share of documents that fail Gopher, and
 * documents that quote an eval document.
 */
object Curation {
  val Clusters = 500
  val Singletons = 2500
  val Bad = 600
  val EvalDocs = 40
  val Contaminated = 80
  val MinWords = 50
  val SampleFrac = 0.7
  val TokenBudget = 2048L

  private val Stop = Vector("the", "be", "to", "of", "and", "that", "have", "with", "for", "on")

  final case class Doc(id: Long, text: String, cluster: Int, kind: String)
  final case class Corpus(docs: Vector[Doc], eval: Vector[String])

  private def rng(seed: Long, salt: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  private def vocabulary(r: SplittableRandom, n: Int): Vector[String] = {
    val letters = "abcdefghiklmnoprstuvwy"
    Iterator.continually {
      val len = 3 + r.nextInt(7)
      (0 until len).map(_ => letters.charAt(r.nextInt(letters.length))).mkString
    }.filterNot(w => Stop.contains(w) || Seq("null", "none").contains(w)).distinct.take(n).toVector
  }

  def corpus(seed: Long): Corpus = {
    val r = rng(seed, 3)
    val vocab = vocabulary(r, 4000)
    val evalVocab = vocabulary(rng(seed, 4), 600).map(_ + "q")
    def words(n: Int, stop: Boolean = true): Vector[String] = Vector.fill(n) {
      if (stop && r.nextInt(5) == 0) Stop(r.nextInt(Stop.size)) else vocab(r.nextInt(vocab.size))
    }
    val eval = Vector.fill(EvalDocs)(Vector.fill(40)(evalVocab(r.nextInt(evalVocab.size))).mkString(" "))
    val texts = mutable.ArrayBuffer.empty[(String, Int, String)] // text, cluster, kind
    for (c <- 0 until Clusters) {
      val base = words(100 + r.nextInt(60))
      texts += ((base.mkString(" "), c, "base"))
      for (_ <- 0 until 1 + r.nextInt(3)) {
        val v = base.toArray
        for (_ <- 0 until 1 + r.nextInt(2)) v(r.nextInt(v.length)) = vocab(r.nextInt(vocab.size))
        texts += ((v.mkString(" "), c, "variant"))
      }
      if (r.nextInt(10) < 3) texts += ((base.mkString("  ") + " \t", c, "copy"))
    }
    for (i <- 0 until Singletons) {
      val w = words(60 + r.nextInt(100))
      if (i < Contaminated) {
        val e = eval(r.nextInt(EvalDocs)).split(' ')
        val from = r.nextInt(e.length - 20)
        val at = r.nextInt(w.size)
        texts += (((w.take(at) ++ e.slice(from, from + 20) ++ w.drop(at)).mkString(" "), -1, "contaminated"))
      } else texts += ((w.mkString(" "), -1, "good"))
    }
    for (i <- 0 until Bad) texts += (i % 3 match {
      case 0 => (words(10 + r.nextInt(25)).mkString(" "), -1, "bad")
      case 1 => (words(70 + r.nextInt(40)).zipWithIndex.map { case (w, j) => if (j % 3 == 0) "#" else w }
        .mkString(" "), -1, "bad")
      case _ => (words(70 + r.nextInt(40), stop = false).mkString(" "), -1, "bad")
    })
    val ids = Interactive.permutation(texts.size, r)
    Corpus(texts.indices.map { i =>
      val (t, c, k) = texts(i); Doc(ids(i) + 1L, t, c, k)
    }.sortBy(_.id).toVector, eval)
  }

  def generate(dir: Path, seed: Long): Unit = {
    val c = corpus(seed)
    Files.write(dir.resolve("corpus.jsonl"), c.docs.map(d =>
      s"""{"id":${d.id},"text":${Stats.json(d.text)}}""").mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.write(dir.resolve("eval.jsonl"), c.eval.zipWithIndex.map { case (t, i) =>
      s"""{"eval_id":$i,"text":${Stats.json(t)}}""" }.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  // ------------------------------------------------------------- the pass

  @volatile private var truth: Corpus = _
  /** Last verified pass: (id → comp) and final (id, n_tokens, shard, pack). */
  @volatile private var lastComps: Array[(Long, Long)] = Array.empty
  @volatile private var lastFinal: Array[(Long, Long, Long, Long)] = Array.empty

  def prepare(ctx: Ctx): Unit = truth = corpus(ctx.seed)

  def pass(ctx: Ctx, inputs: Path, phase: Phase): Unit = {
    val tr = ctx.trace
    val spark = ctx.spark
    tr.setSession(phase.ops.get + 1)
    tr.span("pass") {
      var held: DataFrame = null
      /** One funnel stage: build, materialize, then free the stage before. */
      def stage(layer: String)(build: => DataFrame): DataFrame = {
        val t0 = System.nanoTime()
        val out = tr.span("step") {
          val df = tr.span(layer)(Checkpoints.truncate(build))
          if (held != null) tr.span("plans.release")(Checkpoints.release(held))
          held = df
          df
        }
        phase.steps.add(Stats.ms(t0, System.nanoTime()))
        out
      }
      phase.attempt("curation pass") {
        val t0 = System.nanoTime()
        val (docs, eval) = tr.span("sources.jsonl_load") {
          val d = Ingest.jsonl(spark, inputs.resolve("corpus.jsonl").toString)
          d.limit(1000).collect()
          (d, Ingest.jsonl(spark, inputs.resolve("eval.jsonl").toString))
        }
        phase.ingests.add(Stats.ms(t0, System.nanoTime()))
        val cleaned = stage("operators.clean")(Clean.cleanStrings(docs))
        val kept = stage("operators.quality")(
          QualityFilter.gopherFilter(cleaned, "id", "text", minWords = MinWords))
        val unique = stage("operators.exact_dedup")(Dedup.exactDedup(kept, "id", "text"))
        // the pairs are an input of the next stage, not of the funnel: keep
        // them outside `held` so the components stage can still read them
        val t1 = System.nanoTime()
        val pairs = tr.span("step")(tr.span("operators.minhash")(Checkpoints.truncate(
          Dedup.minhashPairs(unique, "id", "text", threshold = 0.8))))
        phase.steps.add(Stats.ms(t1, System.nanoTime()))
        var comps: Array[(Long, Long)] = null
        var cc: DataFrame = null
        stage("operators.components") {
          cc = Checkpoints.truncate(Dedup.connectedComponents(pairs.select("id_a", "id_b")))
          comps = cc.collect().map(r => (r.getLong(0), r.getLong(1)))
          unique.join(cc.filter(col("id") =!= col("comp")).select("id"), Seq("id"), "left_anti")
        }
        tr.span("plans.release") { Checkpoints.release(cc); Checkpoints.release(pairs) }
        stage("operators.decontaminate")(
          Decontaminate.decontaminate(held, "id", "text", eval, "text", 13))
        var packed: Array[(Long, Long, Long, Long)] = null
        stage("operators.sample_pack") {
          val sampled = Sample.hashSample(held.withColumn("key", col("id").cast("string")), "key", SampleFrac)
            .withColumn("n_tokens", TextFunctions.tokenCount(col("text")).cast("long"))
          val p = Pack.packByTokenBudget(sampled, "id", "n_tokens", TokenBudget, shards = ctx.cores)
            .select("id", "n_tokens", "shard", "pack")
          packed = p.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          p
        }
        tr.span("plans.release")(Checkpoints.release(held))
        phase.inputRows.addAndGet(truth.docs.size)
        phase.ops.incrementAndGet()
        lastComps = comps
        lastFinal = packed
      }
    }
  }

  // ---------------------------------------------------------- verification

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Documents that survive the funnel, from the planted structure alone. */
  def expectedFinal(c: Corpus): Map[Long, Long] = {
    val clusterKeep = c.docs.filter(_.cluster >= 0).groupBy(_.cluster).values.map(_.minBy(_.id))
    val singles = c.docs.filter(_.kind == "good")
    val threshold = f"${(SampleFrac * 4294967296.0).toLong}%08x"
    (clusterKeep ++ singles).filter(d => md5Hex(d.id.toString).take(8) < threshold)
      .map(d => d.id -> d.text.trim.split("\\s+").length.toLong).toMap
  }

  /** (recall, precision) of the components over planted near-duplicate
    * pairs; exact copies removed before the pair stage are not counted. */
  def pairScores(c: Corpus, comps: Array[(Long, Long)]): (Double, Double) = {
    val byCluster = c.docs.filter(d => d.cluster >= 0 && d.kind != "copy").groupBy(_.cluster)
    val copyOf = c.docs.filter(_.kind == "copy").map(d => d.cluster -> d.id).toMap
    // when a copy has the lower id, exact dedup keeps the copy instead of the base
    val members = byCluster.map { case (k, ds) =>
      k -> ds.map(d => if (d.kind == "base") copyOf.get(k).filter(_ < d.id).getOrElse(d.id) else d.id)
    }
    val comp = comps.toMap
    val planted = members.values.flatMap(ms => ms.combinations(2).map(p => (p(0), p(1)))).toSeq
    val recall = planted.count { case (a, b) => comp.get(a).exists(x => comp.get(b).contains(x)) }.toDouble /
      math.max(1, planted.size)
    val clusterOf = members.flatMap { case (k, ms) => ms.map(_ -> k) }
    val found = comps.groupBy(_._2).values.flatMap(g => g.map(_._1).toSeq.combinations(2).map(p => (p(0), p(1)))).toSeq
    val precision = found.count { case (a, b) => clusterOf.get(a).exists(clusterOf.get(b).contains) }.toDouble /
      math.max(1, found.size)
    (recall, precision)
  }

  @volatile private var scores = (Double.NaN, Double.NaN)

  def verify(ctx: Ctx, phase: Phase): Unit = {
    val c = truth
    scores = pairScores(c, lastComps)
    phase.check(s"planted near-duplicate recall ${scores._1} is 1")(scores._1 == 1.0)
    phase.check(s"component precision ${scores._2} is 1")(scores._2 == 1.0)
    val want = expectedFinal(c)
    val got = lastFinal.map(x => x._1 -> x._2).toMap
    val kind = c.docs.map(d => d.id -> d.kind).toMap
    val extra = (got.keySet -- want.keySet).take(3).map(i => s"$i:${kind(i)}")
    val missing = (want.keySet -- got.keySet).take(3).map(i => s"$i:${kind(i)}")
    phase.check(s"final documents match truth (${got.size} vs ${want.size}; " +
      s"unexpected ${extra.mkString(",")}; missing ${missing.mkString(",")})")(got == want)
    val packTokens = lastFinal.groupBy(x => (x._3, x._4)).values.map(_.map(_._2).sum)
    phase.check("packs: each within budget or a single oversize document")(
      lastFinal.groupBy(x => (x._3, x._4)).values.forall(g => g.map(_._2).sum <= TokenBudget + g.map(_._2).max))
    phase.check("packing kept every token")(packTokens.sum == want.values.sum)
  }

  def report(phase: Phase): Map[String, Any] = Map(
    "corpus_docs" -> Option(truth).map(_.docs.size).getOrElse(0),
    "dedup_recall" -> scores._1,
    "dedup_precision" -> scores._2)
}
