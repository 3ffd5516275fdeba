package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.detectors._
import graft.query.IndexReader
import graft.surface.{EntityStore, PerfbenchSurface, TextSurface}
import graft.tools.DetectCli

/** `detect`: the `/v2/text` product path over a seeded entity dictionary.
  *
  * Two op types run one after the other: `text` sends one message
  * through DetectCli.run from one closed-loop client, then `pattern` sends
  * one message through one numeral, temporal or pattern detector family,
  * picked by a seeded mix, in an open loop. A text caller waits for its
  * reply; each request runs several Spark jobs on all cores, so an open
  * loop at half capacity would give too few samples in a run, and more
  * clients would time requests queued behind each other's jobs. With one
  * request in flight and the phases apart, the JVM's CPU time over the
  * text phase is the text requests' own. The ten-message `bulk` request
  * is timed in the traced run only.
  */
object Detect {
  val PerEntity = 300
  val BulkSize = 10
  val PatternQps = 200.0
  /** Share of the window given to the `pattern` phase. */
  val PatternShare = 0.25
  /** Text requests run before the window, so that every run starts it
    * equally warm.
    */
  val WarmupRequests = 8
  val ReferenceDate = java.time.LocalDate.of(2026, 8, 16)

  /** A family's detector output, rendered as [[Gen.PatternMsg.answer]]. */
  def patternAnswer(family: String, text: String): Seq[String] = family match {
    case "number" => numbers.detect(text).map(_.value)
    case "date" => dates.detect(text).map(d => s"${d.dd}/${d.mm}/${d.yy}")
    case "time" => times.detect(text).map(t => s"${t.hh}:${t.mm}:${t.nn}")
    case "number_range" => ranges.detect(text)
      .map(r => s"${r.minValue.getOrElse("")}-${r.maxValue.getOrElse("")}")
    case "budget" => budgets.detect(text).map(b => s"${b.minBudget}-${b.maxBudget}")
    case "phone" => PhoneNumbers.detect(text, "en-IN").map(_.value)
    case "email" => PatternDetectors.emails(text).map(_.value)
    case "person_name" => PersonName.detect(text)
      .map(n => (Seq(n.firstName) ++ n.middleName ++ n.lastName).mkString(" "))
    case "pos_tag" => graft.nlp.PosTagger.en.tag(text.split(" ").toSeq)
      .map { case (w, t) => s"$w/$t" }
  }
  private lazy val numbers = new NumberDetector()
  private lazy val dates = new DateDetector(ReferenceDate)
  private lazy val times = new TimeDetector()
  private lazy val ranges = new NumberRangeDetector()
  private lazy val budgets = new BudgetDetector()

  /** Layer span name of a pattern family. */
  def layerOf(family: String): String =
    if (family == "pos_tag") "nlp.pos_tag" else s"detectors.$family"

  /** A response with every detected value changed. */
  private def spoil(response: String): String =
    response.replace("\"value\":\"", "\"value\":\"~")

  /** Message indices whose response misses an answer key. */
  def wrongAnswers(msgs: Seq[Gen.Msg], response: String): Seq[Int] = {
    val data = (JsonMethods.parse(response) \ "data") match {
      case JArray(xs) => xs
      case _ => Nil
    }
    msgs.indices.filter { i =>
      val ents = data.lift(i).map(_ \ "entities").getOrElse(JNothing)
      msgs(i).answers.exists { case (e, v) =>
        !((ents \ e) match {
          case JArray(ds) => ds.exists(d => (d \ "entity_value" \ "value") == JString(v))
          case _ => false
        })
      }
    }
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val entries = Gen.entityDictionary((PerEntity * c.o.scale).toInt.max(20), c.seeded(1))
    val commits = scala.collection.mutable.ArrayBuffer.empty[Double]
    val store = c.setup(c.Setups) { i =>
      val store = c.o.work.resolve(s"detect/store$i").toString
      val t0 = System.nanoTime()
      c.tag("commit")
      EntityStore.commitDictionary(spark, store, Gen.dictionaryFrame(spark, entries))
      commits += (System.nanoTime() - t0) / 1e9
      IndexReader.open(spark, store)
      store
    }(s => Files2.rmrf(java.nio.file.Paths.get(s)))
    c.lay("surface.store_commit_s", Stats.median(commits.toSeq), "s", commits.size)

    val msgs = Gen.messages(entries, 4000, c.seeded(2))
    val fr = c.seeded(3)
    val pats = Array.fill(20000) {
      Gen.pattern(Gen.Families(fr.nextInt(Gen.Families.length)), fr)
    }
    c.hashes("dictionary") = Stats.sha256(entries.iterator.map(e =>
      s"${e.entity}|${e.value}|${e.variants.mkString("|")}"))
    c.hashes("messages") = Stats.sha256(msgs.iterator.map(m =>
      s"${m.text}|${m.answers.toSeq.sorted.mkString(",")}") ++
      pats.iterator.map(p => s"${p.family}|${p.text}|${p.answer}"))

    def bulkOf(i: Int) = (0 until BulkSize).map(j => msgs((2000 + i * BulkSize + j) % msgs.length))
    // warm the request paths before the measured window
    (0 until WarmupRequests).foreach(i =>
      DetectCli.run(spark, store, Gen.requestBody(Seq(msgs(msgs.length - 1 - i)))))
    pats.takeRight(500).foreach(p => patternAnswer(p.family, p.text))

    val responses = new ConcurrentLinkedQueue[(Seq[Gen.Msg], String)]()
    val patOut = new ConcurrentLinkedQueue[(Int, Seq[String])]()
    c.window {
      val text = new OpType("text", 1)
      val pattern = new OpType("pattern", 1)
      c.ops ++= Seq(text, pattern)
      responses.clear(); patOut.clear()
      val textRps = c.cpuPerOp("text_cpu_ms", text.samples.size) {
        Loops.closed(text, 1, c.o.seconds * (1 - PatternShare)) { (_, seq) =>
          val m = Seq(msgs((seq % 2000).toInt))
          c.tag("text")
          responses.add(m -> c.tracer("tools.detect_cli_run")(
            DetectCli.run(spark, store, Gen.requestBody(m))))
        }
      }
      Loops.open(pattern, PatternQps, c.seeded(4), Loops.after(c.o.seconds * PatternShare)) { i =>
        val p = pats(i % pats.length)
        patOut.add(i % pats.length ->
          c.tracer(layerOf(p.family))(patternAnswer(p.family, p.text)))
      }
      c.e2e("text_rps", textRps, "1/s", text.samples.size)
      c.latency("text", text.samples)
      c.latency("pattern", pattern.samples)
      c.metrics("text_p50_ms").value
    }

    responses.asScala.foreach { case (m, resp) =>
      val wrong = wrongAnswers(m, c.answer(resp)(spoil))
      c.check("detect_answer_keys", m.size, wrong.size,
        wrong.headOption.map(i => s"${m(i).text} -> $resp").getOrElse(""))
    }
    patOut.asScala.foreach { case (i, got) =>
      val p = pats(i)
      val ok = c.answer(got)(_.map(_ + "~")).contains(p.answer)
      c.check("pattern_answer_keys", 1, if (ok) 0 else 1,
        if (ok) "" else s"${p.family}: '${p.text}' -> $got")
    }
    if (c.o.trace) surfaceLayers(c, store, msgs.slice(3000, 3008), bulkOf)
  }

  /** Surface-layer times from calling each step of the request path on the
    * same sampled ten-message requests, the size of a `bulk` request:
    * resolveBulk, searchVariantsBulk, then TextSurface's post-processing of
    * those hits, timed on its own through [[graft.surface.PerfbenchSurface]].
    * json is the json4s work DetectCli.run adds to a one-message request
    * (parse the request, render the response), timed on its own because it
    * is far below the run-to-run noise of the Spark jobs around it.
    */
  private def surfaceLayers(c: Ctx, store: String, sample: Seq[Gen.Msg],
      bulkOf: Int => Seq[Gen.Msg]): Unit = {
    val spark = c.spark
    val reader = IndexReader.open(spark, store)
    var hits, detections = 0L
    sample.zipWithIndex.foreach { case (m, i) =>
      c.tracer("op.sample") {
        val bulk = bulkOf(i)
        val texts = bulk.map(_.text)
        c.tracer("query.resolve_bulk")(reader.resolveBulk(texts, fuzzy = true))
        val perMsg = c.tracer("surface.search_variants_bulk")(
          TextSurface.searchVariantsBulk(spark, store, texts, Gen.Entities))
        hits += perMsg.map(_.size).sum
        detections += c.tracer("surface.postprocess") {
          texts.zip(perMsg).map { case (t, h) => PerfbenchSurface.postProcess(h, t, Gen.Entities) }
        }.map(_.values.map(_.size).sum).sum
        val body = Gen.requestBody(Seq(m))
        val response = JsonMethods.parse(DetectCli.run(spark, store, body))
        c.tracer("surface.json") {
          JsonMethods.parse(body)
          JsonMethods.compact(JsonMethods.render(response))
        }
        val resp = c.tracer("tools.detect_cli_run_bulk")(
          DetectCli.run(spark, store, Gen.requestBody(bulk)))
        c.check("detect_answer_keys", bulk.size, wrongAnswers(bulk, c.answer(resp)(spoil)).size)
      }
    }
    def med(name: String) = Stats.median(c.tracer.byName(name).map(_.durNs / 1e6))
    val n = sample.size.toLong
    c.lay("surface.resolve_bulk_ms", med("query.resolve_bulk"), "ms", n)
    c.lay("surface.search_variants_ms", med("surface.search_variants_bulk"), "ms", n)
    c.lay("surface.postprocess_ms", med("surface.postprocess"), "ms", n)
    c.lay("surface.json_ms", med("surface.json"), "ms", n)
    c.lay("surface.bulk_request_ms", med("tools.detect_cli_run_bulk"), "ms", n)
    c.lay("surface.detections_per_hit", detections.toDouble / math.max(1L, hits), "ratio", hits)
    Gen.Families.foreach { f =>
      val us = c.tracer.byName(layerOf(f)).map(_.durNs / 1e3)
      if (us.nonEmpty) c.lay(s"${layerOf(f)}_us", Stats.median(us), "us", us.size)
    }
    c.collector.foreach { col =>
      c.drainListener()
      val t = col.counts("text")
      val reqs = c.tracer.byName("tools.detect_cli_run").size.max(1)
      c.lay("surface.spark_jobs_per_request", t.jobs.toDouble / reqs, "count", reqs)
      c.lay("surface.spark_tasks_per_request", t.tasks.toDouble / reqs, "count", reqs)
      c.lay("surface.shuffle_kb_per_request", t.shuffleWriteBytes / 1e3 / reqs, "KB", reqs)
    }
  }
}
