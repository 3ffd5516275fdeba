package graft.surface

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkTestBase
import graft.tools.DetectCli

/** The /v2/text JSON round-trip: request bodies in the reference's shape
  * (ner_v2/detectors/textual/tests/test_utils.py fixtures) through
  * DetectCli.run against a real store, asserted on the reference's
  * response envelope {"success", "error", "data"}.
  */
class DetectCliSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val storeDir = {
    val dir = tmpDir("graft-cli-store")
    val dict = Seq(
      ("city", "Mumbai", Seq("mumbai", "bombay"), "en"),
      ("city", "New Delhi", Seq("new delhi", "delhi"), "en"),
      ("restaurant", "Domino's Pizza", Seq("dominos", "domino"), "en")
    ).toDF("entity_data", "value", "variants", "language_script")
    EntityStore.commitDictionary(spark, dir, dict)
    dir
  }

  private def parse(s: String): JValue = JsonMethods.parse(s)

  test("single message with ignore_message fallback and detection") {
    // the test_get_text_entity_detection_data shape (test_utils.py:62-112)
    val body =
      """{"messages": ["I want to go to Mumbai"],
        |  "bot_message": null, "language_script": "en",
        |  "source_language": "en",
        |  "entities": {
        |    "city": {"structured_value": null, "fallback_value": null,
        |             "predetected_values": null, "fuzziness": 4,
        |             "min_token_len_fuzziness": 4, "ignore_message": null},
        |    "restaurant": {"structured_value": null,
        |             "fallback_value": "Pizza Hut",
        |             "predetected_values": null, "fuzziness": null,
        |             "min_token_len_fuzziness": null,
        |             "ignore_message": true}}}""".stripMargin
    val out = parse(DetectCli.run(spark, storeDir, body))
    assert(out \ "success" == JBool(true))
    assert(out \ "error" == JNull)
    val ent = (out \ "data")(0) \ "entities"
    assert(ent \ "city" == JArray(List(JObject(
      "entity_value" -> JObject(
        "value" -> JString("Mumbai"),
        "datastore_verified" -> JBool(true),
        "model_verified" -> JBool(false)),
      "detection" -> JString("message"),
      "original_text" -> JString("mumbai"),
      "language" -> JString("en")))))
    // ignore_message → fallback passthrough, unverified
    assert(ent \ "restaurant" == JArray(List(JObject(
      "entity_value" -> JObject(
        "value" -> JString("Pizza Hut"),
        "datastore_verified" -> JBool(false),
        "model_verified" -> JBool(false)),
      "detection" -> JString("fallback_value"),
      "original_text" -> JString("Pizza Hut"),
      "language" -> JString("en")))))
  }

  test("structured value routes to structure_value_verified") {
    val body =
      """{"messages": ["I want to go to Jabalpur"],
        |  "source_language": "en",
        |  "entities": {"city": {"structured_value": "Delhi"}}}""".stripMargin
    val out = parse(DetectCli.run(spark, storeDir, body))
    val city = (out \ "data")(0) \ "entities" \ "city"
    assert(city(0) \ "detection" == JString("structure_value_verified"))
    assert(city(0) \ "entity_value" \ "value" == JString("New Delhi"))
    assert(city(0) \ "original_text" == JString("delhi"))
  }

  test("bulk messages with flat predetected list treated per-message") {
    val body =
      """{"messages": ["off to bombay", "nothing here"],
        |  "source_language": "en",
        |  "entities": {"city": {"fallback_value": "Pune",
        |    "predetected_values": [["Goa"], []]}}}""".stripMargin
    val out = parse(DetectCli.run(spark, storeDir, body))
    val data = (out \ "data").asInstanceOf[JArray].arr
    assert(data.length == 2)
    val m0 = data(0) \ "entities" \ "city"
    assert(m0(0) \ "entity_value" \ "value" == JString("Mumbai"))
    assert(m0(1) \ "entity_value" \ "value" == JString("Goa"))
    assert(m0(1) \ "entity_value" \ "model_verified" == JBool(true))
    val m1 = data(1) \ "entities" \ "city"
    assert(m1(0) \ "detection" == JString("fallback_value"))
    assert(m1(0) \ "entity_value" \ "value" == JString("Pune"))
  }

  test("invalid request returns the 400 envelope") {
    val out = parse(DetectCli.run(spark, storeDir,
      """{"messages": [], "entities": {"city": {}}}"""))
    assert(out \ "success" == JBool(false))
    assert((out \ "error").isInstanceOf[JString])
  }

  test("bootstrap commits a CSV directory once; a second run reuses the store") {
    import java.nio.charset.StandardCharsets.UTF_8
    import java.nio.file.{Files, Paths}
    val csvDir = tmpDir("graft-cli-csv")
    Files.write(Paths.get(csvDir, "city.csv"),
      "value,variants\nMumbai,\"mumbai|bombay\"\n".getBytes(UTF_8))
    Files.write(Paths.get(csvDir, "restaurant.csv"),
      "value,variants\nDomino's Pizza,\"dominos|domino\"\n".getBytes(UTF_8))
    val store = tmpDir("graft-cli-bootstrap")
    DetectCli.bootstrap(spark, store, csvDir)
    DetectCli.bootstrap(spark, store, csvDir)
    assert(graft.index.Snapshot.listVersions(store) == Seq(1))
    val out = parse(DetectCli.run(spark, store,
      """{"messages": ["off to bombay for dominos"],
        |  "entities": {"city": {}, "restaurant": {}}}""".stripMargin))
    val ent = (out \ "data")(0) \ "entities"
    assert((ent \ "city")(0) \ "entity_value" \ "value" == JString("Mumbai"), out)
    assert((ent \ "restaurant")(0) \ "entity_value" \ "value" ==
      JString("Domino's Pizza"), out)
  }

  test("internal errors surface as errors, not a 400 envelope") {
    // a VALID request against a broken store must throw, not masquerade
    // as a client request-validation failure
    intercept[Exception] {
      DetectCli.run(spark, "/tmp/graft_no_such_store_xyz",
        """{"messages": ["book to goa"], "entities": {"city": {}}}""")
    }
  }
}
