package graft.sink

/** D1–D6: job-lifecycle audit against the "DI Framework" Postgres stored
  * procedures (reference `di_framework.py`).
  *
  * The reference interpolates arguments into SQL f-strings
  * (`di_framework.py:38,66,82,100`) — an injection hole SURVEY §2.10 D6
  * mandates fixing. Here every call goes through a bind-parameter
  * `ProcCaller`; the JDBC implementation uses PreparedStatement
  * placeholders, the test implementation records calls.
  */
trait ProcCaller {
  /** Execute `SELECT schema.proc(?, ?, …)` with bind args; returns the
    * raw textual response (the reference's procs return JSON-ish text). */
  def call(proc: String, args: Seq[Any]): String
  def close(): Unit = ()
}

/** JDBC-backed ProcCaller (autocommit, matching `di_framework.py:26`). */
class JdbcProcCaller(url: String, props: java.util.Properties)
    extends ProcCaller {
  private lazy val conn = {
    val c = java.sql.DriverManager.getConnection(url, props)
    c.setAutoCommit(true)
    c
  }
  override def call(proc: String, args: Seq[Any]): String = {
    val placeholders = Seq.fill(args.size)("?").mkString(", ")
    val st = conn.prepareStatement(s"SELECT $proc($placeholders)")
    try {
      args.zipWithIndex.foreach { case (a, i) => st.setObject(i + 1, a) }
      val rs = st.executeQuery()
      if (rs.next()) String.valueOf(rs.getObject(1)) else ""
    } finally st.close()
  }
  override def close(): Unit = conn.close()
}

/** Job bracketing with the exact call shapes of the reference
  * (`di_framework.py:35-104`); `foreachBatch` prologue/epilogue in the
  * streaming pipeline (SURVEY §2.10 orchestration note). */
class DiFramework(caller: ProcCaller, schemaName: String, jobName: String) {

  @volatile private var jobId: Option[String] = None

  /** D5: `[x for x in response if x["key"]==key][0]["value"]` — extract a
    * value from the procs' `[{"key":…,"value":…}]` JSON text response
    * (reference `di_framework.py:44-55`). */
  def extractValue(response: String, key: String): Option[String] = {
    val pat = ("\"key\"\\s*:\\s*\"" + java.util.regex.Pattern.quote(key) +
      "\"\\s*,\\s*\"value\"\\s*:\\s*\"?([^\",}]*)\"?").r
    pat.findFirstMatchIn(response).map(_.group(1))
  }

  /** D1: `SELECT schema.strt_job(job)` → stash job_id. */
  def startJob(): Option[String] = {
    val resp = caller.call(s"$schemaName.strt_job", Seq(jobName))
    jobId = extractValue(resp, "job_id")
    jobId
  }

  /** D2: `SELECT schema.log_job_stus(job, id, status)`; success = substring
    * 'success' in the (malformed-JSON) response — reference
    * `di_framework.py:57-72`. */
  def logJobStatus(status: String): Boolean = {
    val resp = caller.call(s"$schemaName.log_job_stus",
      Seq(jobName, jobId.getOrElse(""), status))
    resp.contains("success")
  }

  /** D3: `SELECT schema.end_job(job, id)`, clear id. */
  def endJob(): Unit = {
    caller.call(s"$schemaName.end_job", Seq(jobName, jobId.getOrElse("")))
    jobId = None
  }

  /** D4: error terminal state with status_cd = -1 (reference
    * `di_framework.py:88-104`; never called from the reference's main —
    * wired to onQueryTerminated here). */
  def errorJob(msg: String): Unit = {
    caller.call(s"$schemaName.end_job",
      Seq(jobName, msg, jobId.getOrElse(""), Int.box(-1)))
    jobId = None
  }

  def close(): Unit = caller.close()
}
