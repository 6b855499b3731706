package graft.rass.ingest

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.rass.{DeterministicEmbedder, RassEngine}

class FhirBundleParserSpec extends SparkSpec {

  private lazy val bundleJson = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/fixtures/bundle.json"))
    try src.mkString finally src.close()
  }
  private lazy val rows = FhirBundleParser.parseBundleRows(bundleJson, "/f/bundle.json", "u1")
  private lazy val byId = rows.map(r => r.getString(0) -> r).toMap
  private lazy val schema = graft.rass.DocSchema.schema
  private def get(id: String, f: String): Any =
    byId(id).get(schema.fieldIndex(f))

  test("every entry yields a structured row; notes+narrative yield chunks") {
    val structured = rows.filter(_.getString(1) == "structured")
    assert(structured.size == 10) // 9 known + 1 unknown type
    val unstructured = rows.filter(_.getString(1) == "unstructured")
    // every resource with div/notes produces at least one chunk
    assert(unstructured.exists(_.getString(0).startsWith("Patient-pat-1-unstructured")))
    assert(unstructured.exists(_.getString(0).startsWith("DiagnosticReport-unk-1-unstructured")))
  }

  test("Patient extraction: name join, address join, telecom, multipleBirth bool->int") {
    val id = "Patient-pat-1-structured"
    assert(get(id, "patientName") == "Alice M Johnson")
    assert(get(id, "patientGender") == "female")
    assert(get(id, "patientAddress") == "12 Main St Springfield IL 62704")
    assert(get(id, "patientMaritalStatus") == "Married")
    assert(get(id, "patientMultipleBirth") == 1)
    assert(get(id, "patientTelecom") == "home: 555-0110 | work: 555-0199")
    assert(get(id, "patientLanguage") == "en")
    assert(get(id, "patientDOB").toString.startsWith("1968-04-12"))
  }

  test("CodeableConcept text-vs-code-vs-display precedence") {
    val c = "Condition-cond-1-structured"
    assert(get(c, "conditionClinicalStatus") == "active") // coding[0].code
    assert(get(c, "conditionVerificationStatus") == "confirmed") // text
    assert(get(c, "conditionCodeText") == "Diabetes mellitus type 2") // text
    val o = "Observation-obs-1-structured"
    assert(get(o, "observationCodeText") == "Hemoglobin A1c") // coding[0].display
    assert(get(o, "observationValue") == "6.8")
    assert(get(o, "observationUnit") == "%")
    assert(get(o, "observationReferenceRange") == "Low: 4.0, High: 5.6")
  }

  test("notes join with ' | ' and feed unstructured chunks") {
    val c = "Condition-cond-1-structured"
    assert(get(c, "conditionNote") ==
      "Patient reports increased thirst. | HbA1c trending down.")
    val chunk = rows.find(_.getString(0) == "Condition-cond-1-unstructured-0").get
    val text = chunk.getString(schema.fieldIndex("unstructuredText"))
    assert(text.contains("increased thirst"))
  }

  test("allergy string-category, encounter reference fields, org/practitioner") {
    val a = "AllergyIntolerance-alg-1-structured"
    assert(get(a, "allergyCategory") == "medication") // plain string via extract_code_text
    assert(get(a, "allergyCriticality") == "high")
    val e = "Encounter-enc-1-structured"
    assert(get(e, "encounterClass") == "AMB")
    assert(get(e, "encounterServiceProvider") == "Organization/org-1")
    assert(get(e, "encounterParticipant") == "Dr. Alan Reed")
    val p = "Practitioner-prac-1-structured"
    assert(get(p, "practitionerName") == "Alan Reed")
    assert(get(p, "practitionerSpecialty") == "Endocrinology")
    val g = "Organization-org-1-structured"
    assert(get(g, "organizationName") == "General Hospital")
    assert(get(g, "organizationType") == "prov")
    val m = "MedicationRequest-med-1-structured"
    assert(get(m, "medRequestMedicationDisplay") == "Metformin 500mg")
    assert(get(m, "medRequestDispenseRequest").toString.contains("numberOfRepeatsAllowed"))
  }

  test("multi-format date parsing") {
    assert(FhirBundleParser.parseTs("2024-11-05T10:00:00Z").isDefined)
    assert(FhirBundleParser.parseTs("2024-11-05T10:00:00").isDefined)
    assert(FhirBundleParser.parseTs("2024-11-05").isDefined)
    assert(FhirBundleParser.parseTs("1730800800000").isDefined)
    assert(FhirBundleParser.parseTs("not a date").isEmpty)
  }

  test("range layout: per-file patientId ranges are disjoint, so a patient filter prunes") {
    import spark.implicits._
    val docs = (1 to 400).map { i => (s"d$i", "u1", s"pat${i % 8}", s"body $i " * 20) }
      .toDF("doc_id", "user_id", "patientId", "unstructuredText")
    val tmp = java.nio.file.Files.createTempDirectory("rasslayout").toString
    // AQE sizes range partitions by volume (at scale: ~advisory-size files);
    // shrink its floors so this small corpus still spreads over several files
    val keys = Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "1kb"))
    try IndexWriter.write(docs, tmp)
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    val files = new java.io.File(s"$tmp/user_id=u1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
    // several files, each holding a contiguous patientId range
    assert(files.size > 1)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("patientId"), max("patientId")).head()
      (r.getString(0), r.getString(1))
    }.sortBy(_._1)
    // pairwise DISJOINT: every file's max < the next file's min, so parquet
    // min-max stats alone let a patientId-filtered scan skip all other files
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, s"overlapping file ranges: $ranges")
      case _ =>
    }
    // one patient never straddles files (range partitioner keeps equal keys together)
    val patFiles = files.count { f =>
      spark.read.parquet(f).filter($"patientId" === "pat3").limit(1).count() > 0
    }
    assert(patFiles == 1)
    // and the filter actually reaches the scan, so the stats get consulted
    val scan = spark.read.parquet(tmp).filter($"patientId" === "pat3")
      .queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("patientId"))
  }

  test("distributed parse + embed + upsert + layout write round-trips") {
    import spark.implicits._
    val ds = Seq(("/f/bundle.json", bundleJson)).toDS()
    val df = FhirBundleParser.parseBundles(ds, "u1")
    assert(df.count() == rows.size)
    val embedded = IndexWriter.withEmbeddings(df, new DeterministicEmbedder(8))
    val unstr = embedded.filter($"doc_type" === "unstructured")
    assert(unstr.filter($"embedding".isNull).count() == 0)
    // upsert: re-ingesting the same bundle must not duplicate
    val merged = IndexWriter.upsert(Some(embedded), embedded)
    assert(merged.count() == embedded.count())
    val tmp = java.nio.file.Files.createTempDirectory("rassidx").toString
    IndexWriter.write(merged, tmp)
    val back = IndexWriter.read(spark, s"$tmp/user_id=u1")
    assert(back.count() == merged.count())
  }
}

class DocumentFetchSpec extends SparkSpec {

  test("fetch re-reads ingested files, validated and capped per patient") {
    val dir = java.nio.file.Files.createTempDirectory("rassfetch")
    (1 to 7).foreach { i =>
      java.nio.file.Files.writeString(dir.resolve(s"patient_9_note$i.txt"),
        s"note body $i for patient nine")
    }
    java.nio.file.Files.writeString(dir.resolve("patient_9_evil.exe"), "nope")
    java.nio.file.Files.writeString(dir.resolve("patient_9_empty.txt"), "   ")
    val docs = TextIngest.ingestDirectory(spark, dir.toString + "/*.txt", "u9")
    val hits = graft.rass.Searches.q12DocumentFetch(docs, "9", 5)
    // q12 collapses to one row; fetch over the full per-patient doc set
    val fetched = DocumentFetch.fetch(
      docs.filter(org.apache.spark.sql.functions.col("patientId") === "9").collect().toSeq)
    assert(fetched.nonEmpty)
    assert(fetched.size <= DocumentFetch.MaxFilesPerPatient)
    assert(fetched.forall(_.content.contains("note body")))
    assert(fetched.forall(_.filePath.endsWith(".txt")))
    // traversal / extension / emptiness rejections
    assert(DocumentFetch.validatePath(dir.toString + "/patient_9_evil.exe", None).isEmpty)
    assert(DocumentFetch.validatePath("../../etc/passwd", Some(dir.toString)).isEmpty)
    assert(hits.count() == 1)
  }
}

class TextIngestSpec extends SparkSpec {

  test("text files chunk with patientId inferred from filename") {
    val dir = java.nio.file.Files.createTempDirectory("rasstxt")
    val words = (1 to 1200).map(i => s"w$i").mkString(" ")
    java.nio.file.Files.writeString(dir.resolve("patient_42_notes.txt"), words)
    java.nio.file.Files.writeString(dir.resolve("summary.md"), "# Title\nshort body")
    val df = TextIngest.ingestDirectory(spark, dir.toString + "/*", "u2")
    import spark.implicits._
    val notes = df.filter($"file_path".endsWith("patient_42_notes.txt"))
    assert(notes.count() == 3) // 1200 words / 512 -> 3 chunks
    assert(notes.select("patientId").distinct().head().getString(0) == "42")
    val md = df.filter($"file_path".endsWith("summary.md"))
    assert(md.head().getAs[String]("file_type") == "markdown")
    assert(md.head().getAs[String]("patientId") == null)
  }
}

class EndToEndIngestSpec extends SparkSpec {

  test("ingested bundle is queryable through the engine") {
    import spark.implicits._
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/fixtures/bundle.json"))
    val bundleJson = try src.mkString finally src.close()
    val docs = IndexWriter.withEmbeddings(
      FhirBundleParser.parseBundles(Seq(("/f/b.json", bundleJson)).toDS(), "u1"),
      new DeterministicEmbedder(8)).cache()
    val engine = new RassEngine(docs, new DeterministicEmbedder(8),
      nowMicros = () => 1748736000000000L) // 2025-06-01: obs/enc dates in window
    val ans = engine.ask("Find patients with diabetes.", "u1", "chat1")
    assert(ans.hits.nonEmpty)
    assert(ans.hits.exists(_._1.contains("cond-1")))
    val temporal = engine.ask("Show me trends in blood pressure over time.", "u1", "chat1")
    assert(temporal.intent == graft.rass.query.Intent.Temporal)
  }
}
