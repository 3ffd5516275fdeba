package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.index.Snapshot
import graft.surface.{EntityStore, TextSurface}
import graft.surface.TextSurface.{EntitySpec, VerifiedDetection}

/** Batch twin of the reference's `POST /v2/text` endpoint (reference
  * ner_v2/api.py:67-191 + detectors/textual/utils.py:91-213): reads one
  * request body in the reference's JSON shape, runs the full detection
  * envelope against a graft entity store, and prints the reference's
  * response envelope {"success": true, "error": null, "data": [...]} as
  * the LAST stdout line.
  *
  * An optional third argument bootstraps the store from a directory of
  * `<entity>.csv` dictionaries when the store does not exist yet — the
  * datastore_setup.py flow.
  *
  * Divergence (documented): entity_value always carries
  * datastore_verified/model_verified; the reference omits the two keys on
  * the structured-miss and in-detect fallback paths but includes them on
  * the ignore_message fallback path (utils.py:246-248) — one consistent
  * shape here.
  *
  * Usage: runMain graft.tools.DetectCli <storeDir> <request.json> [csvDir]
  */
object DetectCli {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: DetectCli <storeDir> <request.json> [bootstrapCsvDir]")
    val storeDir = args(0)
    val body = new String(Files.readAllBytes(Paths.get(args(1))), UTF_8)

    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .appName("graft-detect")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    args.lift(2).foreach(bootstrap(spark, storeDir, _))

    println(run(spark, storeDir, body))
    spark.stop()
  }

  /** Commit the `<entity>.csv` dictionaries under csvDir as the store's
    * first snapshot; a store that already has one is left as it is.
    */
  private[graft] def bootstrap(spark: SparkSession, storeDir: String,
      csvDir: String): Unit =
    if (Snapshot.currentVersion(storeDir).isEmpty)
      EntityStore.commitDictionary(spark, storeDir,
        EntityStore.readCsvDir(spark, csvDir))

  /** Request body → response body, both in the reference's JSON shapes. */
  def run(spark: SparkSession, storeDir: String, body: String): String = {
    val req = JsonMethods.parse(body)
    val messages = req \ "messages" match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case _ => Nil
    }
    val language = req \ "source_language" match {
      case JString(s) if s.nonEmpty => s
      case _ => "en"
    }
    val specs: Seq[(String, EntitySpec)] = req \ "entities" match {
      case JObject(fields) => fields.map { case (name, sj) =>
        name -> EntitySpec(
          structuredValue = sj \ "structured_value" match {
            case JString(s) if s.nonEmpty => Some(s)
            case _ => None
          },
          fallbackValue = sj \ "fallback_value" match {
            case JString(s) if s.nonEmpty => Some(s)
            case _ => None
          },
          // accept both a flat list (values for the single message — the
          // utils.py:114 docstring shape) and a list-of-lists (per
          // message — the shape text_detection.py:636-644 indexes)
          predetectedValues = sj \ "predetected_values" match {
            case JArray(xs) if xs.nonEmpty && xs.forall(_.isInstanceOf[JString]) =>
              Seq(xs.collect { case JString(s) => s })
            case JArray(xs) => xs.map {
              case JArray(ys) => ys.collect { case JString(s) => s }
              case _ => Seq.empty[String]
            }
            case _ => Nil
          },
          ignoreMessage = sj \ "ignore_message" match {
            case JBool(b) => b
            case _ => false
          })
      }
      case _ => Nil
    }

    // validate FIRST and map only validation failures to the 400 envelope
    // (the reference's InvalidTextRequest, api.py:165-167); an internal
    // detection error must surface as an error, not masquerade as a
    // client request-validation failure
    val invalid: Option[String] =
      try { TextSurface.validateRequest(messages, specs); None }
      catch { case e: IllegalArgumentException => Some(e.getMessage) }
    val response = invalid match {
      case Some(msg) =>
        JObject("success" -> JBool(false), "error" -> JString(msg))
      case None =>
        val outs = TextSurface.detectRequest(spark, storeDir, messages,
          specs, language)
        JObject(
          "success" -> JBool(true),
          "error" -> JNull,
          "data" -> JArray(outs.map { out =>
            JObject(
              // reference dict iteration order = request field order
              "entities" -> JObject(specs.map { case (name, _) =>
                name -> JArray(
                  out.entities.getOrElse(name, Seq.empty)
                    .map(detectionJson).toList)
              }.toList),
              "language" -> JString(out.language))
          }.toList))
    }
    JsonMethods.compact(JsonMethods.render(response))
  }

  private def detectionJson(d: VerifiedDetection): JObject = JObject(
    "entity_value" -> JObject(
      "value" -> JString(d.value),
      "datastore_verified" -> JBool(d.datastoreVerified),
      "model_verified" -> JBool(d.modelVerified)),
    "detection" -> JString(d.detection),
    "original_text" -> JString(d.original_text),
    "language" -> JString(d.language))
}
