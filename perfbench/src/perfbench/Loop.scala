package perfbench

/** One operation of a workload pass. `body` does the timed work; `digest`
  * summarizes what it produced (every output row, for queries and probes)
  * and runs after the pass, outside the timed and traced intervals.
  */
final case class Op(kind: String, name: String, body: () => AnyRef,
    digest: AnyRef => String)

/** Outcome of one attempted op. `durS` is present only for an op that
  * completed and whose output passed its check; a failed op carries an
  * `error` and no timing sample.
  */
final case class OpResult(pass: Int, index: Int, kind: String, name: String,
    startS: Double, durS: Option[Double], digest: Option[String],
    error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** The closed-loop client: one op at a time, each started only after the
  * previous one completed.
  */
object Loop {
  /** Runs the ops in order; returns each op's result (digest not yet taken)
    * with its output, null for an op that threw.
    */
  def run(pass: Int, ops: Seq[Op], clock: () => Double,
      around: (Int, Op) => (() => Unit) => Unit = (_, _) => f => f())
      : Seq[(OpResult, AnyRef)] =
    ops.zipWithIndex.map { case (op, i) =>
      var r: (OpResult, AnyRef) = null
      around(i, op) { () =>
        val t0 = clock()
        r = try {
          val out = op.body()
          (OpResult(pass, i, op.kind, op.name, t0, Some(clock() - t0), None, None), out)
        } catch {
          case e: Exception =>
            (OpResult(pass, i, op.kind, op.name, t0, None, None,
              Some(String.valueOf(e).take(400))), null)
        }
      }
      r
    }

  /** Takes the digest of each completed op's output; an op whose digest
    * throws becomes a failure.
    */
  def digest(ops: Seq[Op], rs: Seq[(OpResult, AnyRef)]): Seq[OpResult] =
    ops.zip(rs).map { case (op, (r, out)) =>
      if (!r.ok) r
      else try r.copy(digest = Some(op.digest(out)))
      catch {
        case e: Exception => r.copy(durS = None,
          error = Some(s"digest failed: ${String.valueOf(e).take(400)}"))
      }
    }

  /** Applies the output check: an op whose digest is not the expected one
    * becomes a failure and loses its timing sample.
    */
  def check(rs: Seq[OpResult], expected: OpResult => Option[String]): Seq[OpResult] =
    rs.map { r =>
      if (!r.ok) r
      else expected(r) match {
        case Some(d) if r.digest.contains(d) => r
        case Some(d) => r.copy(durS = None,
          error = Some(s"output ${r.digest.getOrElse("")} differs from the reference $d"))
        case None    => r.copy(durS = None, error = Some("no reference output to check against"))
      }
    }

  /** Order-insensitive digest of a result: the sorted rendering of every
    * row and column.
    */
  def digestRows(rows: Array[org.apache.spark.sql.Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    s"${rows.length}:" + md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
