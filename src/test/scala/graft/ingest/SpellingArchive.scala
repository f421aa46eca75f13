package graft.ingest

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{ZipEntry, ZipOutputStream}

/** In-memory stand-in for the reference's MTB spelling fixture archive
  * (tests/data/OCJByUtSrVTYtqObYp7XZV_J-mtbSpelling.zip, FIXTURES.md §2):
  * the same nine members and shapes, with Bridge's key casing, zipped
  * deterministically so the specs read no file from outside the
  * repository.
  */
object SpellingArchive {

  val SchemaBase = "https://sage-bionetworks.github.io/mobile-client-json/schemas/v2/"

  /** Self-referenced schema URL of each schema-bearing member, as listed
    * in metadata.json `files[].jsonSchema`.
    */
  private val SchemaUrls: Map[String, String] = Map(
    "taskData.json" -> s"${SchemaBase}sharedSchema.json",
    "motion.json" -> s"${SchemaBase}MotionRecord.json",
    "microphone_levels.json" -> s"${SchemaBase}AudioLevelRecord.json",
    "weather.json" -> s"${SchemaBase}WeatherResult.json")

  private def fileEntry(name: String): String = {
    val schema = SchemaUrls.get(name).fold("")(u => s""","jsonSchema":"$u"""")
    s"""{"filename":"$name","timestamp":"2022-02-15T20:45:02.000Z",""" +
      s""""contentType":"application/json"$schema}"""
  }

  private val metadata =
    s"""{"appName":"Mobile Toolbox","appVersion":"v1.7.2 (build 56)",
       |"deviceInfo":"iPhone12,1; iOS/15.1","deviceTypeIdentifier":"iPhone12,1",
       |"dataGroups":"test_user","rsdFrameworkVersion":"4.2.1",
       |"startDate":"2022-02-15T20:44:10.000Z","endDate":"2022-02-15T20:47:30.000Z",
       |"taskIdentifier":"spelling","taskRunUUID":"9B9A1D2E-2F0C-4B7A-8E55-0C6C1A7F3D21",
       |"files":[${Seq("info.json", "taskData.json", "taskResult.json", "motion.json",
      "microphone_levels.json", "weather.json").map(fileEntry).mkString(",")}]}""".stripMargin

  private val info =
    """{"taskIdentifier":"spelling","appVersion":"v1.7.2 (build 56)",
      |"taskRunUUID":"9B9A1D2E-2F0C-4B7A-8E55-0C6C1A7F3D21"}""".stripMargin

  private def step(i: Int): String =
    s"""{"identifier":"word_$i","type":"spelling","position":$i,"score":${i % 2},
       |"response":"answer_$i","responseTime":${1200 + 100 * i},"practice":false,
       |"wasInterrupted":false,"startDate":"2022-02-15T20:45:0$i.000Z",
       |"endDate":"2022-02-15T20:45:1$i.000Z"}""".stripMargin

  private val taskData =
    s"""{"taskRunUUID":"9B9A1D2E-2F0C-4B7A-8E55-0C6C1A7F3D21",
       |"schemaIdentifier":"MTB_Spelling","testVersion":"1.0","type":"spelling",
       |"locale":"en_US","taskName":"Spelling","taskStatus":["completed"],
       |"startDate":"2022-02-15T20:44:10.000Z","endDate":"2022-02-15T20:47:30.000Z",
       |"scores":{"rawScore":2,"accuracy":0.67,"itemCount":3,"finalTheta":0.41,"finalSE":0.72},
       |"consideredSteps":[{"stepIdentifier":"word_1","randomNumber":0.25,"exposure":0.1,"administered":true}],
       |"stepHistory":[${(1 to 3).map(step).mkString(",")}],
       |"steps":[${(1 to 3).map(step).mkString(",")}],
       |"userInteractions":[{"stepIdentifier":"word_1","userInteractionIdentifier":"keyboard",
       |"timestamp":"2022-02-15T20:45:03.000Z","controlEvent":["tap","submit"],"value":"a"}]}""".stripMargin

  private val taskResult =
    """{"identifier":"spelling","taskRunUUID":"9B9A1D2E-2F0C-4B7A-8E55-0C6C1A7F3D21",
      |"startDate":"2022-02-15T20:44:10.000Z","endDate":"2022-02-15T20:47:30.000Z"}""".stripMargin

  private val motion = (0 until 4).map { i =>
    s"""{"stepPath":"spelling/motion","sensorType":"accelerometer","uptime":${80000 + i}.5,
       |"timestamp":0.0$i,"timestampDate":"2022-02-15T20:44:1$i.000Z",
       |"x":0.$i,"y":-0.$i,"z":1.0$i}""".stripMargin
  }.mkString("[", ",", "]")

  private def levels(kind: String) = (0 until 3).map { i =>
    s"""{"stepPath":"spelling/$kind","timestampDate":"2022-02-15T20:44:1$i.000Z",
       |"timestamp":0.$i,"uptime":${80000 + i}.5,"timeInterval":0.1,
       |"peak":-2$i.5,"average":-3$i.5,"unit":"dbFS"}""".stripMargin
  }.mkString("[", ",", "]")

  private val weather =
    """{"type":"weather","identifier":"weather",
      |"startDate":"2022-02-15T20:44:10.000Z","endDate":"2022-02-15T20:47:30.000Z",
      |"weather":{"type":"weather","identifier":"weather","provider":"openWeather",
      |"startDate":"2022-02-15T20:44:10.000Z","temperature":12.5,"humidity":0.61,
      |"clouds":0.2,"seaLevelPressure":1013.0,"groundLevelPressure":1009.0,
      |"wind":{"speed":3.1,"degrees":250.0,"gust":5.2},
      |"rain":{"pastHour":0.0,"pastThreeHours":0.4},
      |"snow":{"pastHour":0.0,"pastThreeHours":0.0}},
      |"airQuality":{"type":"airQuality","identifier":"airQuality","provider":"airNow",
      |"startDate":"2022-02-15T20:44:10.000Z","aqi":21.0,
      |"category":{"number":1.0,"name":"Good"}}}""".stripMargin

  /** The nine members (name → content), in archive order. */
  val members: Seq[(String, String)] = Seq(
    "metadata.json" -> metadata,
    "info.json" -> info,
    "taskData.json" -> taskData,
    "taskResult.json" -> taskResult,
    "motion.json" -> motion,
    "microphone.json" -> levels("microphone"),
    "microphone_levels.json" -> levels("microphone_levels"),
    "weather.json" -> weather,
    "taskData" -> taskData)

  /** ZIP `members` with fixed entry times, so equal members give equal bytes. */
  def zip(members: Seq[(String, String)] = members): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    members.foreach { case (name, content) =>
      val e = new ZipEntry(name)
      e.setTime(1644957456000L)
      zos.putNextEntry(e)
      zos.write(content.getBytes(UTF_8))
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }
}
