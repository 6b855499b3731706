package graft.rass

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Memo, Tables}

/** Deterministic RASS corpus derived from the driver's test tables:
  * `documents` becomes the unstructured chunk rows (with real vectors
  * joined from `embeddings` on vec_id = doc_id) and a synthetic-but-
  * deterministic structured row per document (resource type and field
  * values are pure functions of doc_id), cycling through all 9 FHIR
  * resource types the reference parses (`app/main.py:594-1132`).
  *
  * The same derivation is emitted as DuckDB SQL ([[Corpus.Sql]]) so
  * every search operator can be oracle-checked end-to-end; the
  * `r00_corpus_*` registry entries hash-compare the two derivations
  * directly, pinning them together.
  */
object Corpus {

  val ChunkSize = 64 // words; small enough that testdata docs chunk

  // ------------------------------------------------------------- pools
  val ResourceTypes = Seq("Patient", "Condition", "Observation", "Encounter",
    "MedicationRequest", "Procedure", "AllergyIntolerance", "Practitioner",
    "Organization")
  val Names = Seq("alice johnson", "bob smith", "carol lee", "david kim",
    "emma davis", "frank moore", "grace chen", "henry patel", "irene lopez",
    "jack wilson", "karen young", "liam hall", "mona scott", "nate green",
    "olga king", "paul wright", "quinn baker", "rosa adams", "sam turner",
    "tina brooks")
  val Conditions = Seq("diabetes mellitus", "hypertension", "asthma",
    "migraine", "influenza", "anemia", "arthritis", "bronchitis",
    "dermatitis", "sinusitis")
  val Observations = Seq("blood pressure", "heart rate", "body temperature",
    "glucose level", "oxygen saturation")
  val Medications = Seq("metformin", "lisinopril", "albuterol", "ibuprofen",
    "amoxicillin")
  val Procedures = Seq("appendectomy", "colonoscopy", "biopsy", "vaccination",
    "physical exam")
  val Allergies = Seq("penicillin allergy", "peanut allergy", "latex allergy",
    "pollen allergy")
  val Practitioners = Seq("dr alan reed", "dr betty cole", "dr carl dunn",
    "dr dana fox")
  val Organizations = Seq("general hospital", "city clinic", "health center",
    "medical group")
  val Genders = Seq("male", "female", "other")
  val Statuses = Seq("active", "resolved", "inactive")
  val Languages = Seq("en", "es", "de")
  val Marital = Seq("married", "single")
  val Units = Seq("mmhg", "bpm")
  val Specialties = Seq("cardiology", "dermatology", "neurology")
  val OrgTypes = Seq("hospital", "clinic")

  private val DayUs = 86400000000L
  private val Epoch2024 = 1704067200000000L // 2024-01-01T00:00:00Z
  private val Epoch1950 = -631152000000000L // 1950-01-01T00:00:00Z

  // ------------------------------------------------------------- spark side

  private def pool(p: Seq[String], id: Column): Column =
    element_at(array(p.map(lit): _*), (id % p.size).cast("int") + 1)

  private def idStr(id: Column): Column = id.cast("string")

  /** Structured rows: one per document, resource type = doc_id % 9. */
  def structured(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir).select($"doc_id", $"source")
    val id = $"doc_id"
    val rt = pool(ResourceTypes, id)
    def onlyFor(t: String, c: Column): Column = when(rt === t, c)
    val onset = timestamp_micros(lit(Epoch2024) + (id % 500) * DayUs)
    d.select(
      concat(lit("s"), idStr(id)).as("doc_id_str"),
      lit("structured").as("doc_type"),
      rt.as("resourceType"),
      concat(lit("/corpus/"), $"source", lit("/"), idStr(id), lit(".json")).as("file_path"),
      lit("json").as("file_type"),
      concat(lit("p"), idStr(id % 50)).as("patientId"),
      onlyFor("Patient", pool(Names, id)).as("patientName"),
      onlyFor("Patient", pool(Genders, id)).as("patientGender"),
      onlyFor("Patient", timestamp_micros(lit(Epoch1950) + (id % 18000) * DayUs)).as("patientDOB"),
      onlyFor("Patient", concat(idStr(id % 900 + 100), lit(" main street"))).as("patientAddress"),
      onlyFor("Patient", pool(Marital, id)).as("patientMaritalStatus"),
      onlyFor("Patient", (id % 3).cast("int")).as("patientMultipleBirth"),
      onlyFor("Patient", concat(lit("555-01"), idStr(id % 90 + 10))).as("patientTelecom"),
      onlyFor("Patient", pool(Languages, id)).as("patientLanguage"),
      onlyFor("Condition", concat(lit("c"), idStr(id))).as("conditionId"),
      onlyFor("Condition", pool(Conditions, id)).as("conditionCodeText"),
      onlyFor("Condition", lit("encounter-diagnosis")).as("conditionCategory"),
      onlyFor("Condition", pool(Statuses, id)).as("conditionClinicalStatus"),
      onlyFor("Condition", lit("confirmed")).as("conditionVerificationStatus"),
      onlyFor("Condition", onset).as("conditionOnsetDateTime"),
      onlyFor("Condition", timestamp_micros(lit(Epoch2024) + (id % 500) * DayUs + DayUs)).as("conditionRecordedDate"),
      onlyFor("Condition", concat(lit("severity "), idStr(id % 4))).as("conditionSeverity"),
      onlyFor("Condition", concat(lit("clinical note severity "), idStr(id % 4),
        lit(" for "), pool(Conditions, id))).as("conditionNote"),
      onlyFor("Observation", concat(lit("o"), idStr(id))).as("observationId"),
      onlyFor("Observation", pool(Observations, id)).as("observationCodeText"),
      onlyFor("Observation", idStr(id % 80 + 60)).as("observationValue"),
      onlyFor("Observation", pool(Units, id)).as("observationUnit"),
      onlyFor("Observation", lit("normal")).as("observationInterpretation"),
      onlyFor("Observation", onset).as("observationEffectiveDateTime"),
      onlyFor("Observation", timestamp_micros(lit(Epoch2024) + (id % 500) * DayUs + DayUs)).as("observationIssued"),
      onlyFor("Observation", lit("60 to 100")).as("observationReferenceRange"),
      onlyFor("Observation", concat(lit("observation note for "), pool(Observations, id))).as("observationNote"),
      onlyFor("Encounter", concat(lit("e"), idStr(id))).as("encounterId"),
      onlyFor("Encounter", lit("finished")).as("encounterStatus"),
      onlyFor("Encounter", lit("ambulatory")).as("encounterClass"),
      onlyFor("Encounter", when(id % 2 === 0, "checkup").otherwise("emergency")).as("encounterType"),
      onlyFor("Encounter", pool(Conditions, id)).as("encounterReasonCode"),
      onlyFor("Encounter", onset).as("encounterStart"),
      onlyFor("Encounter", timestamp_micros(lit(Epoch2024) + (id % 500) * DayUs
        + (id % 8 + 1) * 3600000000L)).as("encounterEnd"),
      onlyFor("Encounter", pool(Organizations, id)).as("encounterLocation"),
      onlyFor("Encounter", pool(Organizations, id)).as("encounterServiceProvider"),
      onlyFor("Encounter", pool(Practitioners, id)).as("encounterParticipant"),
      onlyFor("Encounter", concat(lit("encounter note "), pool(Conditions, id))).as("encounterNote"),
      onlyFor("MedicationRequest", concat(lit("m"), idStr(id))).as("medRequestId"),
      onlyFor("MedicationRequest", pool(Medications, id)).as("medRequestMedicationDisplay"),
      onlyFor("MedicationRequest", onset).as("medRequestAuthoredOn"),
      onlyFor("MedicationRequest", lit("order")).as("medRequestIntent"),
      onlyFor("MedicationRequest", when(id % 2 === 0, "active").otherwise("completed")).as("medRequestStatus"),
      onlyFor("MedicationRequest", lit("routine")).as("medRequestPriority"),
      onlyFor("MedicationRequest", concat(idStr(id % 3 + 1), lit(" tablet daily"))).as("medRequestDosageInstruction"),
      onlyFor("MedicationRequest", concat(lit("refills "), idStr(id % 5))).as("medRequestDispenseRequest"),
      onlyFor("MedicationRequest", concat(lit("medication note "), pool(Medications, id))).as("medRequestNote"),
      onlyFor("Procedure", concat(lit("pr"), idStr(id))).as("procedureId"),
      onlyFor("Procedure", pool(Procedures, id)).as("procedureCodeText"),
      onlyFor("Procedure", lit("completed")).as("procedureStatus"),
      onlyFor("Procedure", onset).as("procedurePerformedDateTime"),
      onlyFor("Procedure", lit("follow up in 2 weeks")).as("procedureFollowUp"),
      onlyFor("Procedure", concat(lit("procedure note "), pool(Procedures, id))).as("procedureNote"),
      onlyFor("AllergyIntolerance", concat(lit("a"), idStr(id))).as("allergyId"),
      onlyFor("AllergyIntolerance", pool(Statuses, id)).as("allergyClinicalStatus"),
      onlyFor("AllergyIntolerance", lit("confirmed")).as("allergyVerificationStatus"),
      onlyFor("AllergyIntolerance", lit("allergy")).as("allergyType"),
      onlyFor("AllergyIntolerance", when(id % 2 === 0, "food").otherwise("medication")).as("allergyCategory"),
      onlyFor("AllergyIntolerance", when(id % 2 === 0, "high").otherwise("low")).as("allergyCriticality"),
      onlyFor("AllergyIntolerance", pool(Allergies, id)).as("allergyCodeText"),
      onlyFor("AllergyIntolerance", onset).as("allergyOnsetDateTime"),
      onlyFor("AllergyIntolerance", concat(lit("allergy note "), pool(Allergies, id))).as("allergyNote"),
      onlyFor("Practitioner", concat(lit("pd"), idStr(id))).as("practitionerId"),
      onlyFor("Practitioner", pool(Practitioners, id)).as("practitionerName"),
      onlyFor("Practitioner", pool(Genders, id)).as("practitionerGender"),
      onlyFor("Practitioner", pool(Specialties, id)).as("practitionerSpecialty"),
      onlyFor("Practitioner", concat(idStr(id % 900 + 100), lit(" clinic road"))).as("practitionerAddress"),
      onlyFor("Practitioner", concat(lit("555-02"), idStr(id % 90 + 10))).as("practitionerTelecom"),
      onlyFor("Organization", concat(lit("org"), idStr(id))).as("organizationId"),
      onlyFor("Organization", pool(Organizations, id)).as("organizationName"),
      onlyFor("Organization", pool(OrgTypes, id)).as("organizationType"),
      onlyFor("Organization", concat(idStr(id % 900 + 100), lit(" health avenue"))).as("organizationAddress"),
      onlyFor("Organization", concat(lit("555-03"), idStr(id % 90 + 10))).as("organizationTelecom"),
      lit(null).cast("string").as("unstructuredText"),
      lit(null).cast("array<float>").as("embedding"),
      lit("u1").as("user_id"))
      .withColumnRenamed("doc_id_str", "doc_id")
  }

  /** Unstructured rows: chunked document text; chunk 0 carries the
    * document's embedding (from the embeddings table), later chunks and
    * docs beyond the vector count have none.
    */
  def unstructured(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir).select($"doc_id", $"source", $"text")
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding".as("vec"))
    val chunked = Chunker.chunkDf(d, "text", ChunkSize)
    chunked
      .join(emb, $"doc_id" === $"vec_id" && $"chunk_index" === 0, "left")
      .select(
        concat(lit("d"), idStr($"doc_id"), lit("_c"), idStr($"chunk_index")).as("doc_id_str"),
        lit("unstructured").as("doc_type"),
        lit(null).cast("string").as("resourceType"),
        concat(lit("/corpus/"), $"source", lit("/"), idStr($"doc_id"), lit(".txt")).as("file_path"),
        lit("text").as("file_type"),
        concat(lit("p"), idStr($"doc_id" % 50)).as("patientId"),
        $"chunk_text".as("unstructuredText"),
        $"vec".as("embedding"),
        lit("u1").as("user_id"))
      .withColumnRenamed("doc_id_str", "doc_id")
  }

  /** The full sparse wide-row corpus (structured UNION unstructured).
    * Memoized and cached per (session, dir): the driver's Verify/Bench
    * run every registered search against the same derivation, and each
    * search reads it twice (stats aggregate + scoring scan) — in a real
    * deployment this is simply the written document table.
    */
  def corpus(spark: SparkSession, dir: String): DataFrame =
    cache.getOrBuild((spark, dir)) {
      val c = structured(spark, dir).unionByName(unstructured(spark, dir),
        allowMissingColumns = true)
      c.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      c
    }

  private val cache = Memo.frames("r.corpus")

  /** Materialized BM25 corpus statistics over every BM25-scored field
    * of [[corpus]] ([[statsOf]]). In a real deployment these are
    * parquet tables the ingest job maintains additively
    * (CorpusStatsSpec proves batch merge = rebuild).
    */
  def stats(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    statsOf(corpus(spark, dir))

  /** The (fieldStats, termStats) pair of `docs` over every BM25-scored
    * field ([[CorpusStats.build]]), built ONCE per (session, corpus
    * plan) and kept persisted, so searches look up their stats row from
    * these tables instead of re-aggregating the corpus per query, and
    * the registry's searches and every [[RassEngine]] over the same
    * corpus share one pair. The key is the CANONICALIZED plan object,
    * not its 32-bit semanticHash: canonical plans compare structurally
    * (= semanticEquals), so two different corpora in one session can
    * never collide into sharing stats.
    */
  def statsOf(docs: DataFrame): (DataFrame, DataFrame) =
    statsCache.getOrBuild((docs.sparkSession, docs.queryExecution.analyzed.canonicalized)) {
      val (f, t) = CorpusStats.build(docs, DocSchema.scoredFields)
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      (f.persist(lvl), t.persist(lvl))
    }

  private val statsCache = Memo.cache[
    (SparkSession, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan),
    (DataFrame, DataFrame)]("r.stats", Memo.unpersist)

  /** Release the memoized corpus and stats tables (see
    * [[graft.pipeline.Dedup.invalidateCaches]] for the policy), and with
    * them the BM25 accept sets, stats rows and query vectors derived
    * from the same tables, so a rebuilt vocabulary or a rewritten
    * embeddings table never serves stale entries.
    */
  def invalidateCaches(): Unit =
    Memo.invalidate("r.corpus", "r.stats", "r.bm25", "r.qv")

  // ------------------------------------------------------------- sql side

  /** DuckDB mirror of the derivation, as WITH-clause entries
    * `corpus_structured`, `corpus_unstructured`, `corpus`.
    */
  object Sql {
    private def pool(p: Seq[String], id: String = "doc_id"): String =
      s"CASE ($id % ${p.size}) " +
        p.zipWithIndex.map { case (v, i) => s"WHEN $i THEN '$v'" }.mkString(" ") +
        " END"

    private def onlyFor(t: String, e: String): String =
      s"CASE WHEN $rt = '$t' THEN $e END"

    private val rt = s"rt"
    private val onset = s"make_timestamp($Epoch2024 + (doc_id % 500) * $DayUs)"

    val structuredCte: String = {
      val n = pool(Names)
      s"""corpus_structured AS (
         |SELECT 's' || doc_id AS doc_id, 'structured' AS doc_type,
         | $rt AS resourceType,
         | '/corpus/' || source || '/' || doc_id || '.json' AS file_path,
         | 'json' AS file_type,
         | 'p' || (doc_id % 50) AS patientId,
         | ${onlyFor("Patient", n)} AS patientName,
         | ${onlyFor("Patient", pool(Genders))} AS patientGender,
         | ${onlyFor("Patient", s"make_timestamp($Epoch1950 + (doc_id % 18000) * $DayUs)")} AS patientDOB,
         | ${onlyFor("Patient", "(doc_id % 900 + 100) || ' main street'")} AS patientAddress,
         | ${onlyFor("Patient", pool(Marital))} AS patientMaritalStatus,
         | ${onlyFor("Patient", "(doc_id % 3)::INT")} AS patientMultipleBirth,
         | ${onlyFor("Patient", "'555-01' || (doc_id % 90 + 10)")} AS patientTelecom,
         | ${onlyFor("Patient", pool(Languages))} AS patientLanguage,
         | ${onlyFor("Condition", "'c' || doc_id")} AS conditionId,
         | ${onlyFor("Condition", pool(Conditions))} AS conditionCodeText,
         | ${onlyFor("Condition", "'encounter-diagnosis'")} AS conditionCategory,
         | ${onlyFor("Condition", pool(Statuses))} AS conditionClinicalStatus,
         | ${onlyFor("Condition", "'confirmed'")} AS conditionVerificationStatus,
         | ${onlyFor("Condition", onset)} AS conditionOnsetDateTime,
         | ${onlyFor("Condition", s"make_timestamp($Epoch2024 + (doc_id % 500) * $DayUs + $DayUs)")} AS conditionRecordedDate,
         | ${onlyFor("Condition", "'severity ' || (doc_id % 4)")} AS conditionSeverity,
         | ${onlyFor("Condition", s"'clinical note severity ' || (doc_id % 4) || ' for ' || ${pool(Conditions)}")} AS conditionNote,
         | ${onlyFor("Observation", "'o' || doc_id")} AS observationId,
         | ${onlyFor("Observation", pool(Observations))} AS observationCodeText,
         | ${onlyFor("Observation", "(doc_id % 80 + 60)::VARCHAR")} AS observationValue,
         | ${onlyFor("Observation", pool(Units))} AS observationUnit,
         | ${onlyFor("Observation", "'normal'")} AS observationInterpretation,
         | ${onlyFor("Observation", onset)} AS observationEffectiveDateTime,
         | ${onlyFor("Observation", s"make_timestamp($Epoch2024 + (doc_id % 500) * $DayUs + $DayUs)")} AS observationIssued,
         | ${onlyFor("Observation", "'60 to 100'")} AS observationReferenceRange,
         | ${onlyFor("Observation", s"'observation note for ' || ${pool(Observations)}")} AS observationNote,
         | ${onlyFor("Encounter", "'e' || doc_id")} AS encounterId,
         | ${onlyFor("Encounter", "'finished'")} AS encounterStatus,
         | ${onlyFor("Encounter", "'ambulatory'")} AS encounterClass,
         | ${onlyFor("Encounter", "CASE WHEN doc_id % 2 = 0 THEN 'checkup' ELSE 'emergency' END")} AS encounterType,
         | ${onlyFor("Encounter", pool(Conditions))} AS encounterReasonCode,
         | ${onlyFor("Encounter", onset)} AS encounterStart,
         | ${onlyFor("Encounter", s"make_timestamp($Epoch2024 + (doc_id % 500) * $DayUs + (doc_id % 8 + 1) * 3600000000)")} AS encounterEnd,
         | ${onlyFor("Encounter", pool(Organizations))} AS encounterLocation,
         | ${onlyFor("Encounter", pool(Organizations))} AS encounterServiceProvider,
         | ${onlyFor("Encounter", pool(Practitioners))} AS encounterParticipant,
         | ${onlyFor("Encounter", s"'encounter note ' || ${pool(Conditions)}")} AS encounterNote,
         | ${onlyFor("MedicationRequest", "'m' || doc_id")} AS medRequestId,
         | ${onlyFor("MedicationRequest", pool(Medications))} AS medRequestMedicationDisplay,
         | ${onlyFor("MedicationRequest", onset)} AS medRequestAuthoredOn,
         | ${onlyFor("MedicationRequest", "'order'")} AS medRequestIntent,
         | ${onlyFor("MedicationRequest", "CASE WHEN doc_id % 2 = 0 THEN 'active' ELSE 'completed' END")} AS medRequestStatus,
         | ${onlyFor("MedicationRequest", "'routine'")} AS medRequestPriority,
         | ${onlyFor("MedicationRequest", "(doc_id % 3 + 1) || ' tablet daily'")} AS medRequestDosageInstruction,
         | ${onlyFor("MedicationRequest", "'refills ' || (doc_id % 5)")} AS medRequestDispenseRequest,
         | ${onlyFor("MedicationRequest", s"'medication note ' || ${pool(Medications)}")} AS medRequestNote,
         | ${onlyFor("Procedure", "'pr' || doc_id")} AS procedureId,
         | ${onlyFor("Procedure", pool(Procedures))} AS procedureCodeText,
         | ${onlyFor("Procedure", "'completed'")} AS procedureStatus,
         | ${onlyFor("Procedure", onset)} AS procedurePerformedDateTime,
         | ${onlyFor("Procedure", "'follow up in 2 weeks'")} AS procedureFollowUp,
         | ${onlyFor("Procedure", s"'procedure note ' || ${pool(Procedures)}")} AS procedureNote,
         | ${onlyFor("AllergyIntolerance", "'a' || doc_id")} AS allergyId,
         | ${onlyFor("AllergyIntolerance", pool(Statuses))} AS allergyClinicalStatus,
         | ${onlyFor("AllergyIntolerance", "'confirmed'")} AS allergyVerificationStatus,
         | ${onlyFor("AllergyIntolerance", "'allergy'")} AS allergyType,
         | ${onlyFor("AllergyIntolerance", "CASE WHEN doc_id % 2 = 0 THEN 'food' ELSE 'medication' END")} AS allergyCategory,
         | ${onlyFor("AllergyIntolerance", "CASE WHEN doc_id % 2 = 0 THEN 'high' ELSE 'low' END")} AS allergyCriticality,
         | ${onlyFor("AllergyIntolerance", pool(Allergies))} AS allergyCodeText,
         | ${onlyFor("AllergyIntolerance", onset)} AS allergyOnsetDateTime,
         | ${onlyFor("AllergyIntolerance", s"'allergy note ' || ${pool(Allergies)}")} AS allergyNote,
         | ${onlyFor("Practitioner", "'pd' || doc_id")} AS practitionerId,
         | ${onlyFor("Practitioner", pool(Practitioners))} AS practitionerName,
         | ${onlyFor("Practitioner", pool(Genders))} AS practitionerGender,
         | ${onlyFor("Practitioner", pool(Specialties))} AS practitionerSpecialty,
         | ${onlyFor("Practitioner", "(doc_id % 900 + 100) || ' clinic road'")} AS practitionerAddress,
         | ${onlyFor("Practitioner", "'555-02' || (doc_id % 90 + 10)")} AS practitionerTelecom,
         | ${onlyFor("Organization", "'org' || doc_id")} AS organizationId,
         | ${onlyFor("Organization", pool(Organizations))} AS organizationName,
         | ${onlyFor("Organization", pool(OrgTypes))} AS organizationType,
         | ${onlyFor("Organization", "(doc_id % 900 + 100) || ' health avenue'")} AS organizationAddress,
         | ${onlyFor("Organization", "'555-03' || (doc_id % 90 + 10)")} AS organizationTelecom,
         | NULL::VARCHAR AS unstructuredText,
         | NULL::FLOAT[] AS embedding,
         | 'u1' AS user_id
         |FROM (SELECT doc_id, source, ${pool(ResourceTypes)} AS $rt
         |      FROM documents))""".stripMargin
    }

    val unstructuredCte: String =
      raw"""corpus_unstructured AS (
           |SELECT 'd' || doc_id || '_c' || chunk_index AS doc_id,
           | 'unstructured' AS doc_type,
           | NULL::VARCHAR AS resourceType,
           | '/corpus/' || source || '/' || doc_id || '.txt' AS file_path,
           | 'text' AS file_type,
           | 'p' || (doc_id % 50) AS patientId,
           | chunk_text AS unstructuredText,
           | CASE WHEN chunk_index = 0 THEN vec END AS embedding,
           | 'u1' AS user_id
           |FROM (
           |  SELECT x.doc_id, x.source, x.i - 1 AS chunk_index,
           |    array_to_string(w[(x.i - 1) * $ChunkSize + 1 : x.i * $ChunkSize], ' ')
           |      AS chunk_text, e.embedding AS vec
           |  FROM (
           |    SELECT doc_id, source, w, unnest(range(1,
           |      greatest(CAST(ceil(len(w)::DOUBLE / $ChunkSize) AS BIGINT), 1) + 1)) AS i
           |    FROM (SELECT doc_id, source,
           |            regexp_split_to_array(trim(text), '\s+') AS w
           |          FROM documents)) x
           |  LEFT JOIN embeddings e
           |    ON e.vec_id = x.doc_id AND x.i = 1))""".stripMargin

    /** corpus = structured UNION ALL BY NAME unstructured. */
    val cte: String =
      s"""$structuredCte,
         |$unstructuredCte,
         |corpus AS (SELECT * FROM corpus_structured UNION ALL BY NAME
         |           SELECT * FROM corpus_unstructured)""".stripMargin
  }
}
