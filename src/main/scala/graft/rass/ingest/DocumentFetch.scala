package graft.rass.ingest

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.Row

/** S12 — raw-document fetch (reference `retrieve_ehr_document` +
  * `validate_file_path`, `app/main.py:1324-1392`, caller
  * `main.py:2804-2856`): after the Q12 collapse, re-read each matched
  * patient's original files — path-validated under the upload root,
  * .json/.md/.txt only, non-empty, capped at MAX_FILES_PER_PATIENT(5)
  * (`main.py:108`).
  *
  * The collapse runs on executors; its <=k rows reach the driver once,
  * where the distinct-file projection, the per-patient cap and the
  * read run — the same driver-side K-file fetch the reference performs.
  */
object DocumentFetch {

  val MaxFilesPerPatient = 5
  val SupportedExtensions = Set(".json", ".md", ".txt")

  final case class FetchedDoc(patientId: String, filePath: String,
      fileType: String, content: String)

  /** Reference `validate_file_path`: resolve under baseDir, must exist,
    * be a file, carry a supported extension, and (read=true) be
    * non-empty utf-8.
    */
  def validatePath(filePath: String, baseDir: Option[String]): Option[Path] =
    try {
      // ingest stores input_file_name() URIs ("file:///…"); accept both
      val fp =
        if (filePath.startsWith("file:")) Paths.get(new java.net.URI(filePath)).toString
        else filePath
      val p0 = baseDir.map(b => Paths.get(b).resolve(
        fp.stripPrefix("/"))).getOrElse(Paths.get(fp))
      val p = p0.toRealPath()
      val ext = {
        val n = p.getFileName.toString
        val i = n.lastIndexOf('.')
        if (i < 0) "" else n.substring(i).toLowerCase
      }
      val inBase = baseDir.forall(b =>
        p.startsWith(Paths.get(b).toRealPath()))
      if (Files.isRegularFile(p) && SupportedExtensions(ext) && inBase) Some(p)
      else None
    } catch { case _: Exception => None }

  /** Collapsed hit rows (named fields `patientId`, `file_path`,
    * `file_type`) -> distinct file identities, at most
    * [[MaxFilesPerPatient]] per patient by file path -> validated read.
    * The rows are the <=k the Q12 collapse already brought to the
    * driver, so the projection and the cap run here, with no Spark job.
    */
  def fetch(collapsedHits: Seq[Row], baseDir: Option[String] = None): Seq[FetchedDoc] = {
    val files = collapsedHits
      .map(r => (r.getAs[String]("patientId"), r.getAs[String]("file_path"),
        r.getAs[String]("file_type")))
      .filter(_._2 != null)
      .distinct
      .groupBy(_._1).values.toSeq
      .flatMap(_.sortBy(_._2).take(MaxFilesPerPatient))
      .sortBy(f => (Option(f._1), f._2))
    files.flatMap { case (pid, fp, ft) =>
      validatePath(fp, baseDir).flatMap { p =>
        try {
          val content = Files.readString(p)
          if (content.trim.isEmpty) None
          else Some(FetchedDoc(pid, fp, ft, content))
        } catch { case _: Exception => None }
      }
    }
  }
}
