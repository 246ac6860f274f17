package graft.sqlext

import java.util.Locale
import java.util.regex.Pattern

import graft.sink.CdcTable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._

/** SQL maintenance commands for graft tables — the Delta-parity DDL
  * surface, wired through `SparkSessionExtensions.injectParser` (the
  * standard out-of-tree pattern, e.g. Delta's own SQL parser): a tiny
  * recognizer intercepts the three graft statements and every other
  * string delegates untouched to Spark's parser.
  *
  *   GRAFT OPTIMIZE '<path>' [WHERE <partition predicate>] [SMALLER THAN n MB] [ZORDER BY (c1, c2, …)] [FILES n]
  *   GRAFT COMPACT '<path>' [ID col] [ZORDER BY (c1, …)]
  *   GRAFT COMPACT INDEX '<path>'
  *   GRAFT RETRACT INDEX '<path>' IDS (v1, v2, …) [REELECT FROM '<t>' ID c TEXT c]
  *   GRAFT RETRACT INDEX '<path>' FROM '<table>' [ID col] [REELECT FROM '<t>' ID c TEXT c]
  *   GRAFT REBAND INDEX '<path>' BANDS n
  *   GRAFT VACUUM '<path>' [RETAIN <n> HOURS] [FORCE]
  *   GRAFT HISTORY '<path>'
  *   GRAFT RESTORE '<path>' TO COMMIT n | TO TIMESTAMP ms
  *   GRAFT CLONE '<src>' TO '<dst>'
  *   GRAFT RENAME COLUMN '<path>' FROM a TO b
  *   GRAFT DROP COLUMN '<path>' a
  *   GRAFT ADD COLUMN '<path>' a <type> [GENERATED AS (<expr>)]
  *   GRAFT ALTER COLUMN '<path>' a TYPE <type>
  *   GRAFT ADD CONSTRAINT '<path>' name CHECK (<expr>)
  *   GRAFT DROP CONSTRAINT '<path>' name
  *   GRAFT CONSTRAINTS '<path>'
  *   GRAFT SET PROPERTY '<path>' 'key' = 'value'
  *   GRAFT UNSET PROPERTY '<path>' 'key'
  *   GRAFT PROPERTIES '<path>'
  *   GRAFT DETAIL '<path>'
  *   GRAFT PROFILE '<path>' [COLUMNS c1, c2, …] [K n]
  *   GRAFT PROFILE INDEX '<path>' [AT COMMIT n]
  *   GRAFT SYNC PROFILE '<idx>' FROM '<table>' COLUMNS c1, … [K n] [BY FILE]
  *   GRAFT DELETE FROM '<path>' WHERE <predicate> [USING DV]
  *   GRAFT DELETE KEYS '<path>' FROM '<source>' ON k1, … [USING DV]
  *   GRAFT UPDATE '<path>' SET c = e[, …] WHERE <predicate>
  *   GRAFT MERGE '<target>' FROM '<source>' ON k1[, …] [EVOLVE] [USING DV]
  *   GRAFT RECONCILE '<target>' FROM '<source>' ON k [COMPARE c, …] [REPAIR]
  *
  * OPTIMIZE rewrites the current state as ONE atomic `replace` commit
  * (clustered when ZORDER BY is given — disjoint per-file ranges make
  * the manifest column stats prune, see FileStats); VACUUM deletes
  * unreferenced data files older than the retention; HISTORY returns
  * the commit log. All three answer from / commit through the
  * manifest, so they run unchanged on object stores.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan =
    recognize(sqlText).getOrElse(delegate.parsePlan(sqlText))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
}

object GraftSqlParser {

  private val optimizeRe = Pattern.compile(
    """\s*GRAFT\s+OPTIMIZE\s+'([^']+)'""" +
      """(?:\s+WHERE\s+(.+?))?""" +
      """(?:\s+SMALLER\s+THAN\s+(\d+)\s*MB)?""" +
      """(?:\s+ZORDER\s+BY\s+\(([^)]+)\))?(?:\s+FILES\s+(\d+))?\s*;?\s*""",
    Pattern.CASE_INSENSITIVE | Pattern.DOTALL)
  private val compactRe = Pattern.compile(
    """\s*GRAFT\s+COMPACT\s+'([^']+)'(?:\s+ID\s+(\w+))?""" +
      """(?:\s+ZORDER\s+BY\s+\(([^)]+)\))?\s*;?\s*""",
    Pattern.CASE_INSENSITIVE)
  private val compactIndexRe = Pattern.compile(
    """\s*GRAFT\s+COMPACT\s+INDEX\s+'([^']+)'\s*;?\s*""",
    Pattern.CASE_INSENSITIVE)
  private val rebandIndexRe = Pattern.compile(
    """\s*GRAFT\s+REBAND\s+INDEX\s+'([^']+)'\s+BANDS\s+(\d+)\s*;?\s*""",
    Pattern.CASE_INSENSITIVE)
  // the optional keeper-re-election clause (exact index only): the
  // ids list/tombstone stays lazy so REELECT is never swallowed
  private val reelectTail =
    """(?:\s+REELECT\s+FROM\s+'([^']+)'\s+ID\s+(\w+)\s+TEXT\s+(\w+))?"""
  private val retractIndexRe = Pattern.compile(
    """\s*GRAFT\s+RETRACT\s+INDEX\s+'([^']+)'\s+IDS\s*\((.+?)\)""" +
      reelectTail + """\s*;?\s*""",
    Pattern.CASE_INSENSITIVE | Pattern.DOTALL)
  private val retractFromRe = Pattern.compile(
    """\s*GRAFT\s+RETRACT\s+INDEX\s+'([^']+)'\s+FROM\s+'([^']+)'""" +
      """(?:\s+ID\s+(\w+))?""" + reelectTail + """\s*;?\s*""",
    Pattern.CASE_INSENSITIVE)
  private val vacuumRe = Pattern.compile(
    """\s*GRAFT\s+VACUUM\s+'([^']+)'(?:\s+RETAIN\s+(\d+)\s+HOURS)?""" +
      """(?:\s+(FORCE))?\s*;?\s*""",
    Pattern.CASE_INSENSITIVE)
  private val deleteRe = Pattern.compile(
    """\s*GRAFT\s+DELETE\s+FROM\s+'([^']+)'\s+WHERE\s+(.+?)""" +
      """(?:\s+USING\s+(DV))?\s*;?\s*""",
    Pattern.CASE_INSENSITIVE | Pattern.DOTALL)
  private val deleteKeysRe = Pattern.compile(
    """\s*GRAFT\s+DELETE\s+KEYS\s+'([^']+)'\s+FROM\s+'([^']+)'""" +
      """\s+ON\s+([\w\s,`]+?)(?:\s+USING\s+(DV))?\s*;?\s*""",
    Pattern.CASE_INSENSITIVE)
  private val updateRe = Pattern.compile(
    """\s*GRAFT\s+UPDATE\s+'([^']+)'\s+SET\s+(.+?)\s*;?\s*""",
    Pattern.CASE_INSENSITIVE | Pattern.DOTALL)
  private val mergeRe = Pattern.compile(
    """\s*GRAFT\s+MERGE\s+'([^']+)'\s+FROM\s+'([^']+)'""" +
      """\s+ON\s+([\w\s,`]+?)(?:\s+(EVOLVE))?""" +
      """(?:\s+USING\s+(DV))?\s*;?\s*""",
    Pattern.CASE_INSENSITIVE)
  private val historyRe = Pattern.compile(
    """\s*GRAFT\s+HISTORY\s+'([^']+)'\s*;?\s*""",
    Pattern.CASE_INSENSITIVE)
  private val restoreRe = Pattern.compile(
    """\s*GRAFT\s+RESTORE\s+'([^']+)'\s+TO\s+(COMMIT|TIMESTAMP)""" +
      """\s+(\d+)\s*;?\s*""",
    Pattern.CASE_INSENSITIVE)
  private val cloneRe = Pattern.compile(
    """\s*GRAFT\s+CLONE\s+'([^']+)'\s+TO\s+'([^']+)'\s*;?\s*""",
    Pattern.CASE_INSENSITIVE)
  private val renameColRe = Pattern.compile(
    """\s*GRAFT\s+RENAME\s+COLUMN\s+'([^']+)'\s+FROM\s+`?([\w]+)`?""" +
      """\s+TO\s+`?([\w]+)`?\s*;?\s*""",
    Pattern.CASE_INSENSITIVE)
  private val dropColRe = Pattern.compile(
    """\s*GRAFT\s+DROP\s+COLUMN\s+'([^']+)'\s+`?([\w]+)`?\s*;?\s*""",
    Pattern.CASE_INSENSITIVE)
  private val alterColRe = Pattern.compile(
    """\s*GRAFT\s+ALTER\s+COLUMN\s+'([^']+)'\s+`?([\w]+)`?""" +
      """\s+TYPE\s+([\w()\s,<>]+?)\s*;?\s*""",
    Pattern.CASE_INSENSITIVE)
  private val addGenColRe = Pattern.compile(
    """\s*GRAFT\s+ADD\s+COLUMN\s+'([^']+)'\s+`?([\w]+)`?""" +
      """\s+([\w()\s,<>]+?)\s+GENERATED\s+AS\s*\((.+)\)\s*;?\s*""",
    Pattern.CASE_INSENSITIVE | Pattern.DOTALL)
  private val addColRe = Pattern.compile(
    """\s*GRAFT\s+ADD\s+COLUMN\s+'([^']+)'\s+`?([\w]+)`?""" +
      """\s+([\w()\s,<>]+?)\s*;?\s*""",
    Pattern.CASE_INSENSITIVE)
  private val addConsRe = Pattern.compile(
    """\s*GRAFT\s+ADD\s+CONSTRAINT\s+'([^']+)'\s+`?([\w]+)`?""" +
      """\s+CHECK\s*\((.+)\)\s*;?\s*""",
    Pattern.CASE_INSENSITIVE | Pattern.DOTALL)
  private val dropConsRe = Pattern.compile(
    """\s*GRAFT\s+DROP\s+CONSTRAINT\s+'([^']+)'\s+`?([\w]+)`?\s*;?\s*""",
    Pattern.CASE_INSENSITIVE)
  private val showConsRe = Pattern.compile(
    """\s*GRAFT\s+CONSTRAINTS\s+'([^']+)'\s*;?\s*""",
    Pattern.CASE_INSENSITIVE)
  private val setPropRe = Pattern.compile(
    """\s*GRAFT\s+SET\s+PROPERTY\s+'([^']+)'\s+'([^']+)'""" +
      """\s*=\s*'([^']*)'\s*;?\s*""",
    Pattern.CASE_INSENSITIVE)
  private val unsetPropRe = Pattern.compile(
    """\s*GRAFT\s+UNSET\s+PROPERTY\s+'([^']+)'\s+'([^']+)'\s*;?\s*""",
    Pattern.CASE_INSENSITIVE)
  private val showPropsRe = Pattern.compile(
    """\s*GRAFT\s+PROPERTIES\s+'([^']+)'\s*;?\s*""",
    Pattern.CASE_INSENSITIVE)
  private val detailRe = Pattern.compile(
    """\s*GRAFT\s+DETAIL\s+'([^']+)'\s*;?\s*""",
    Pattern.CASE_INSENSITIVE)
  private val profileRe = Pattern.compile(
    """\s*GRAFT\s+PROFILE\s+'([^']+)'""" +
      """(?:\s+COLUMNS\s+([\w\s,`]+?))?(?:\s+K\s+(\d+))?\s*;?\s*""",
    Pattern.CASE_INSENSITIVE)
  private val profileIdxRe = Pattern.compile(
    """\s*GRAFT\s+PROFILE\s+INDEX\s+'([^']+)'""" +
      """(?:\s+AT\s+COMMIT\s+(\d+))?\s*;?\s*""",
    Pattern.CASE_INSENSITIVE)
  private val profileSyncRe = Pattern.compile(
    """\s*GRAFT\s+SYNC\s+PROFILE\s+'([^']+)'\s+FROM\s+'([^']+)'""" +
      """\s+COLUMNS\s+([\w\s,`]+?)(?:\s+K\s+(\d+))?""" +
      """(?:\s+(BY\s+FILE))?\s*;?\s*""",
    Pattern.CASE_INSENSITIVE)
  // the tail after ON <key> is parsed token-wise in code (see
  // parseReconcileTail): regex-level REPAIR detection cannot reliably
  // distinguish the flag from a trailing COMPARE column named
  // "repair" across whitespace variants
  private val reconcileRe = Pattern.compile(
    """\s*GRAFT\s+RECONCILE\s+'([^']+)'\s+FROM\s+'([^']+)'""" +
      """\s+ON\s+(`[^`]+`|\w+)(.*?)\s*;?\s*""",
    Pattern.CASE_INSENSITIVE | Pattern.DOTALL)

  /** Parse the reconcile tail (`[COMPARE c1, c2, …] [REPAIR]`):
    * REPAIR is the flag ONLY when it stands outside the comma list —
    * a comma segment that is exactly the word `repair` is a COLUMN;
    * a multi-token final segment (`…, b REPAIR`) carries the flag.
    * Returns None for an unrecognizable tail (statement rejected). */
  private[sqlext] def parseReconcileTail(tail: String)
      : Option[(Seq[String], Boolean)] = {
    val t = tail.trim
    if (t.isEmpty) return Some((Nil, false))
    if (t.equalsIgnoreCase("REPAIR")) return Some((Nil, true))
    val m = Pattern.compile("""(?is)\s*COMPARE\s+(.+)""").matcher(t)
    if (!m.matches()) return None
    val segs = m.group(1).split(",").toSeq.map(_.trim)
    if (segs.exists(_.isEmpty)) return None
    val lastToks = segs.last.split("\\s+").toSeq
    val repair = lastToks.length >= 2 &&
      lastToks.last.equalsIgnoreCase("REPAIR")
    val cols = (if (repair)
      segs.init :+ lastToks.init.mkString(" ") else segs)
      .map(_.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty)
    // a multi-word segment that is not `col REPAIR` is malformed
    if (cols.exists(_.exists(_.isWhitespace))) None
    else Some((cols, repair))
  }

  private[sqlext] def recognize(sqlText: String): Option[LogicalPlan] = {
    if (!sqlText.toUpperCase(Locale.ROOT).contains("GRAFT")) return None
    val om = optimizeRe.matcher(sqlText)
    if (om.matches()) {
      val cols = Option(om.group(4)).toSeq.flatMap(
        _.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      return Some(OptimizeGraftTable(om.group(1), cols,
        Option(om.group(5)).map(_.toInt),
        where = Option(om.group(2)).map(_.trim),
        smallerThanMb = Option(om.group(3)).map(_.toLong)))
    }
    val cim = compactIndexRe.matcher(sqlText)
    if (cim.matches())
      return Some(CompactGraftIndex(cim.group(1)))
    val rbm = rebandIndexRe.matcher(sqlText)
    if (rbm.matches())
      return Some(RebandGraftIndex(rbm.group(1), rbm.group(2).toInt))
    val rfm = retractFromRe.matcher(sqlText)
    if (rfm.matches())
      return Some(RetractGraftIndexFrom(rfm.group(1), rfm.group(2),
        Option(rfm.group(3)).getOrElse("_id"),
        reelect = Option(rfm.group(4)).map(t =>
          (t, rfm.group(5), rfm.group(6)))))
    val rim = retractIndexRe.matcher(sqlText)
    if (rim.matches()) {
      // literal list, quote-aware: numbers stay bare, string ids come
      // single-quoted with '' escaping (like every other literal here)
      val vals = splitTopLevel(rim.group(2), ',')
        .map(_.trim).filter(_.nonEmpty).map { s =>
          if (s.length >= 2 && s.startsWith("'") && s.endsWith("'"))
            s.substring(1, s.length - 1).replace("''", "'")
          else s
        }
      require(vals.nonEmpty, "GRAFT RETRACT INDEX needs at least one id")
      return Some(RetractGraftIndex(rim.group(1), vals,
        reelect = Option(rim.group(3)).map(t =>
          (t, rim.group(4), rim.group(5)))))
    }
    val cm = compactRe.matcher(sqlText)
    if (cm.matches()) {
      val cols = Option(cm.group(3)).toSeq.flatMap(
        _.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      return Some(CompactGraftTable(cm.group(1),
        Option(cm.group(2)).getOrElse("_id"), cols))
    }
    val vm = vacuumRe.matcher(sqlText)
    if (vm.matches())
      return Some(VacuumGraftTable(vm.group(1),
        Option(vm.group(2)).map(_.toLong), force = vm.group(3) != null))
    val dkm = deleteKeysRe.matcher(sqlText)
    if (dkm.matches()) {
      val ks = dkm.group(3).split(",").toSeq
        .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty)
      return Some(DeleteKeysGraftTable(dkm.group(1), dkm.group(2), ks,
        useDv = dkm.group(4) != null))
    }
    val delm = deleteRe.matcher(sqlText)
    if (delm.matches())
      return Some(DeleteFromGraftTable(delm.group(1), delm.group(2),
        useDv = delm.group(3) != null))
    val um = updateRe.matcher(sqlText)
    if (um.matches()) {
      // SET/WHERE and assignment splitting must respect quoted string
      // literals ('a,b', 'see where', 'don''t') and nested parens —
      // a naive regex/comma split corrupts them
      val (setPart, wherePart) = splitAtKeyword(um.group(2), "WHERE")
        .getOrElse(throw new IllegalArgumentException(
          "GRAFT UPDATE requires a WHERE clause"))
      val assigns = splitTopLevel(setPart, ',')
        .map(_.trim).filter(_.nonEmpty).map { a =>
          val i = topLevelIndexOf(a, '=')
          require(i > 0, s"malformed SET assignment: $a")
          (a.take(i).trim, a.drop(i + 1).trim)
        }
      return Some(UpdateGraftTable(um.group(1), assigns, wherePart))
    }
    val mm = mergeRe.matcher(sqlText)
    if (mm.matches()) {
      val ks = mm.group(3).split(",").toSeq
        .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty)
      return Some(MergeGraftTable(mm.group(1), mm.group(2), ks,
        evolve = mm.group(4) != null, useDv = mm.group(5) != null))
    }
    val hm = historyRe.matcher(sqlText)
    if (hm.matches()) return Some(HistoryGraftTable(hm.group(1)))
    val rsm = restoreRe.matcher(sqlText)
    if (rsm.matches()) {
      val n = rsm.group(3).toLong
      val byCommit = rsm.group(2).toUpperCase(Locale.ROOT) == "COMMIT"
      return Some(RestoreGraftTable(rsm.group(1),
        commitAsOf = if (byCommit) Some(n) else None,
        timestampAsOf = if (byCommit) None else Some(n)))
    }
    val clm = cloneRe.matcher(sqlText)
    if (clm.matches())
      return Some(CloneGraftTable(clm.group(1), clm.group(2)))
    val rcm = renameColRe.matcher(sqlText)
    if (rcm.matches())
      return Some(RenameGraftColumn(rcm.group(1), rcm.group(2),
        rcm.group(3)))
    val dcm = dropColRe.matcher(sqlText)
    if (dcm.matches())
      return Some(DropGraftColumn(dcm.group(1), dcm.group(2)))
    val agm = addGenColRe.matcher(sqlText)
    if (agm.matches())
      return Some(AddGraftGeneratedColumn(agm.group(1), agm.group(2),
        agm.group(3).trim, agm.group(4).trim))
    val acm = addColRe.matcher(sqlText)
    if (acm.matches())
      return Some(AddGraftColumn(acm.group(1), acm.group(2),
        acm.group(3)))
    val alm = alterColRe.matcher(sqlText)
    if (alm.matches())
      return Some(AlterGraftColumnType(alm.group(1), alm.group(2),
        alm.group(3)))
    val akm = addConsRe.matcher(sqlText)
    if (akm.matches())
      return Some(AddGraftConstraint(akm.group(1), akm.group(2),
        akm.group(3).trim))
    val dcon = dropConsRe.matcher(sqlText)
    if (dcon.matches())
      return Some(DropGraftConstraint(dcon.group(1), dcon.group(2)))
    val skm = showConsRe.matcher(sqlText)
    if (skm.matches())
      return Some(ShowGraftConstraints(skm.group(1)))
    val spm = setPropRe.matcher(sqlText)
    if (spm.matches())
      return Some(SetGraftProperty(spm.group(1), spm.group(2),
        spm.group(3)))
    val upm = unsetPropRe.matcher(sqlText)
    if (upm.matches())
      return Some(UnsetGraftProperty(upm.group(1), upm.group(2)))
    val shp = showPropsRe.matcher(sqlText)
    if (shp.matches())
      return Some(ShowGraftProperties(shp.group(1)))
    val dm = detailRe.matcher(sqlText)
    if (dm.matches()) return Some(DetailGraftTable(dm.group(1)))
    val pim = profileIdxRe.matcher(sqlText)
    if (pim.matches())
      return Some(ProfileGraftIndex(pim.group(1),
        Option(pim.group(2)).map(_.toLong)))
    val psm = profileSyncRe.matcher(sqlText)
    if (psm.matches()) {
      val cols = psm.group(3).split(",").toSeq
        .map(_.trim.stripPrefix("`").stripSuffix("`"))
        .filter(_.nonEmpty)
      return Some(SyncGraftProfile(psm.group(1), psm.group(2), cols,
        Option(psm.group(4)).map(_.toInt),
        byFile = psm.group(5) != null))
    }
    val pm = profileRe.matcher(sqlText)
    if (pm.matches()) {
      val cols = Option(pm.group(2)).toSeq.flatMap(_.split(",").toSeq
        .map(_.trim.stripPrefix("`").stripSuffix("`"))
        .filter(_.nonEmpty))
      return Some(ProfileGraftTable(pm.group(1), cols,
        Option(pm.group(3)).map(_.toInt).getOrElse(256)))
    }
    val rm = reconcileRe.matcher(sqlText)
    if (rm.matches()) {
      parseReconcileTail(rm.group(4)).foreach { case (cols, repair) =>
        return Some(ReconcileGraftTable(rm.group(1), rm.group(2),
          rm.group(3).stripPrefix("`").stripSuffix("`"), cols, repair))
      }
    }
    None
  }

  private[sqlext] def attr(name: String, t: DataType): Attribute =
    AttributeReference(name, t, nullable = false)()

  /** Walk `s` tracking single-quoted literals ('' AND backslash
    * escapes — Spark SQL accepts both 'don''t' and 'don\'t') and paren
    * depth, invoking `f(i, ch)` only at TOP level; `f` returns true to
    * stop the walk at position i. An unbalanced ')' clamps to depth 0
    * rather than going negative (which would silently disable
    * top-level detection for the rest of the string). */
  private def walkTopLevel(s: String)(f: (Int, Char) => Boolean): Int = {
    var depth = 0; var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' =>
          i += 1 // skip the literal body up to its closing quote
          var closed = false
          while (i < s.length && !closed) {
            s.charAt(i) match {
              case '\\' => i += 2 // \' or \\ — skip the escaped char
              case '\'' if i + 1 < s.length &&
                  s.charAt(i + 1) == '\'' => i += 2 // '' escape
              case '\'' => closed = true // outer i += 1 steps past it
              case _ => i += 1
            }
          }
        case '(' => depth += 1
        case ')' => if (depth > 0) depth -= 1
        case ch if depth == 0 => if (f(i, ch)) return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** Split `s` at the first top-level, unquoted, word-boundary
    * occurrence of `kw` (case-insensitive). */
  private def splitAtKeyword(s: String, kw: String)
      : Option[(String, String)] = {
    val at = walkTopLevel(s) { (i, _) =>
      s.regionMatches(true, i, kw, 0, kw.length) &&
        (i == 0 || s.charAt(i - 1).isWhitespace) &&
        (i + kw.length >= s.length ||
          s.charAt(i + kw.length).isWhitespace)
    }
    if (at < 0) None
    else Some((s.take(at).trim, s.drop(at + kw.length).trim))
  }

  /** Split `s` on top-level, unquoted occurrences of `sep`. */
  private def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val parts = scala.collection.mutable.ListBuffer.empty[String]
    var start = 0
    var from = 0
    while (from <= s.length) {
      val at = walkTopLevel(s.substring(from))(
        (_, ch) => ch == sep) match {
        case -1 => -1
        case i => from + i
      }
      if (at < 0) { parts += s.substring(start); from = s.length + 1 }
      else { parts += s.substring(start, at); start = at + 1; from = at + 1 }
    }
    parts.toSeq
  }

  /** Index of the first top-level, unquoted `ch`, or -1. */
  private def topLevelIndexOf(s: String, ch: Char): Int =
    walkTopLevel(s)((_, c) => c == ch)
}

/** `GRAFT OPTIMIZE '<path>' [ZORDER BY (…)] [FILES n]` — rewrite the
  * current state as one atomic replace commit, optionally clustered. */
case class OptimizeGraftTable(dir: String, zorderCols: Seq[String],
    nFiles: Option[Int], where: Option[String] = None,
    smallerThanMb: Option[Long] = None)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(
    attr("files_before", IntegerType), attr("files_after", IntegerType),
    attr("commit", LongType))

  override def run(spark: SparkSession): Seq[Row] = {
    // scoped forms: rewrite only the selected partitions' files
    // (WHERE) and/or only the small files (SMALLER THAN — Delta's
    // OPTIMIZE semantics), carry everything else by reference (the
    // 100 TB form — see CdcTable.optimizeWhere)
    if (where.isDefined || smallerThanMb.isDefined) {
      val (b, a, c) = CdcTable.optimizeWhere(spark, dir, where,
        zorderCols, nFiles, smallerThanMb.map(_ * 1024L * 1024L))
      return Seq(Row(b, a, c))
    }
    // ONE log snapshot drives the whole rewrite: the frame is read AS
    // OF its last commit and the replace validates against that same
    // commit, so an append landing mid-rewrite fails the commit
    // (ConcurrentModificationException — rerun OPTIMIZE) instead of
    // passing validation while its rows are absent from the rewritten
    // state. A fresh CdcTable.read here would silently lose it.
    val commits = CdcTable.log(dir)
    require(commits.nonEmpty, s"no CdcTable at $dir")
    val snap = commits.last.commit
    // live files only (what this rewrite replaces) — a previous
    // replace's superseded files are already orphans
    val live = commits.lastIndexWhere(_.action == "replace") match {
      case -1 => commits
      case i => commits.drop(i)
    }
    val before = live.flatMap(_.files).size
    val df0 = CdcTable.readAsOf(spark, dir, commitAsOf = Some(snap))
    val target = nFiles.getOrElse(spark.sparkContext.defaultParallelism)
    val df =
      if (zorderCols.nonEmpty)
        CdcTable.zorderFrame(df0, zorderCols, target)
      else df0.coalesce(target)
    CdcTable.replaceWith(dir, df, expectedLastCommit = Some(snap))
    val last = CdcTable.log(dir).last
    Seq(Row(before, last.files.size, last.commit))
  }
}

/** `GRAFT COMPACT '<path>' [ID col] [ZORDER BY (…)]` — upsert-mode
  * compaction: collapse the event log to its current state (latest
  * event per key wins, soft deletes drop) as one atomic replace
  * commit, optionally z-order-clustered. An append landing
  * mid-compaction fails the commit (optimistic concurrency) instead
  * of being silently superseded. */
case class CompactGraftTable(dir: String, idCol: String,
    zorderCols: Seq[String]) extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(
    attr("rows_current", LongType), attr("commit", LongType))

  override def run(spark: SparkSession): Seq[Row] = {
    CdcTable.compactToCurrentState(spark, dir, idCol, zorderCols)
    val last = CdcTable.log(dir).last
    Seq(Row(CdcTable.read(spark, dir).count(), last.commit))
  }
}

/** `GRAFT COMPACT INDEX '<path>'` — fold an incremental index's
  * per-batch append commits into one compact file set
  * ([[graft.ext.Dedup.compactIndex]]; the index kind — exact
  * fingerprint, MinHash band, vector bucket, lexical postings — is
  * introspected from the stored schema/structure). Probe semantics
  * are preserved exactly: the exact index folds by the same
  * min-keep_id rule reads resolve by, band/vector indexes fold by
  * DISTINCT, lexical postings rewrite bucket-partitioned with totals
  * summed to one row. Returns the commit count folded away and the
  * index's manifest row count. */
case class CompactGraftIndex(dir: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(
    attr("commits_folded", LongType), attr("rows", LongType))

  override def run(spark: SparkSession): Seq[Row] = {
    // a lexical index root is a directory of tables — report on its
    // postings table (the one whose commit count probes pay for)
    val tdir =
      if (CdcTable.log(dir).nonEmpty) dir else s"$dir/postings"
    val before = CdcTable.log(tdir).length
    graft.ext.Dedup.compactIndex(spark, dir)
    Seq(Row(before.toLong, CdcTable.rowCountEstimate(tdir)))
  }
}

/** `GRAFT RETRACT INDEX '<path>' IDS (v1, v2, …)` — remove the index
  * entries owned by documents deleted from the corpus
  * ([[graft.ext.Dedup.retractIndex]]: keyed rewrite, owning key
  * introspected per index kind — doc_id for band/winnow, id for
  * vector/SemDeDup, keep_id for the exact fingerprint index;
  * unsubtractable kinds reject loudly). Composes with
  * `GRAFT DELETE FROM '<table>' …`: delete the corpus rows, then
  * retract the same ids here so re-ingested copies of the removed
  * content are KEPT instead of deduped against absent docs. Literals
  * cast to the index's key type. With
  * `REELECT FROM '<table>' ID <col> TEXT <col>` (exact index only)
  * a retracted KEEPER whose duplicate copies survive in the corpus
  * hands its fingerprint to the min surviving id in the same pass
  * ([[graft.ext.Dedup.retractIndex]]'s `reelectFrom`), so
  * still-present content keeps deduping. Returns the index rows
  * removed. */
case class RetractGraftIndex(dir: String, ids: Seq[String],
    reelect: Option[(String, String, String)] = None)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(
    attr("rows_retracted", LongType))

  override def run(spark: SparkSession): Seq[Row] = {
    import spark.implicits._
    Seq(Row(graft.ext.Dedup.retractIndex(spark, dir, ids.toDF("id"),
      reelect.map { case (t, idc, txc) =>
        (CdcTable.read(spark, t), idc, txc) })))
  }
}

/** `GRAFT RETRACT INDEX '<path>' FROM '<table>' [ID col]` — the
  * at-scale retraction form: the id set comes from a graft TABLE
  * (e.g. the tombstone/repair table a delete pipeline maintains)
  * instead of round-tripping literals through SQL text — a
  * right-to-be-forgotten batch of millions of ids never touches the
  * driver. Same per-kind keyed rewrite as the IDS form. */
case class RetractGraftIndexFrom(dir: String, srcTable: String,
    idCol: String, reelect: Option[(String, String, String)] = None)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(
    attr("rows_retracted", LongType))

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    Seq(Row(graft.ext.Dedup.retractIndex(spark, dir,
      CdcTable.read(spark, srcTable).select(col(s"`$idCol`")),
      reelect.map { case (t, idc, txc) =>
        (CdcTable.read(spark, t), idc, txc) })))
  }
}

/** `GRAFT REBAND INDEX '<path>' BANDS n` — offline band-layout
  * migration of a near-dup signature index
  * ([[graft.ext.Dedup.rebandIndex]]: re-bands from the stored 16-row
  * signatures, one atomic replace; quiesce incremental writers
  * first). Returns the migrated doc and row counts. */
case class RebandGraftIndex(dir: String, bands: Int)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(
    attr("docs", LongType), attr("rows", LongType))

  override def run(spark: SparkSession): Seq[Row] = {
    graft.ext.Dedup.rebandIndex(spark, dir, bands)
    val rows = CdcTable.rowCountEstimate(dir)
    Seq(Row(rows / bands, rows))
  }
}

/** `GRAFT VACUUM '<path>' [RETAIN n HOURS] [FORCE]` — delete
  * unreferenced data files older than the retention (default 7 days).
  * A retention below the 7-day floor is refused without `FORCE`: the
  * retention window is what protects in-flight readers of a
  * superseded snapshot, `commitAsOf`/`timestampAsOf` time-travel
  * readers, and a restarting stream's `getBatch` re-execution — a
  * 0-hour vacuum would delete files they still need (Delta guards
  * the same way with its retention-duration check). */
case class VacuumGraftTable(dir: String, retainHours: Option[Long],
    force: Boolean = false) extends LeafRunnableCommand {
  import GraftSqlParser.attr

  /** Minimum retention without FORCE — Delta's default, 7 days. */
  private val floorHours = 7L * 24

  override val output: Seq[Attribute] = Seq(
    attr("files_deleted", IntegerType))

  override def run(spark: SparkSession): Seq[Row] = {
    // explicit RETAIN wins; else the table's retention property
    // (graft.vacuum.retainHours — Delta deletedFileRetentionDuration
    // parity); else the 7-day default. The safety floor applies to
    // whichever source supplied the value.
    val effective = retainHours.orElse(
      CdcTable.properties(dir).get("graft.vacuum.retainHours").map {
        v => scala.util.Try(v.toLong).getOrElse(
          throw new IllegalArgumentException(
            s"table property graft.vacuum.retainHours on $dir holds " +
              s"'$v' (not an hour count) — unset or correct it, or " +
              "pass an explicit RETAIN"))
      })
    effective.filter(h => h < floorHours && !force).foreach { h =>
      throw new IllegalArgumentException(
        s"GRAFT VACUUM RETAIN $h HOURS is below the $floorHours-hour " +
          "safety floor: files older than the retention but still " +
          "referenced by in-flight queries, time-travel readers " +
          "(commitAsOf/timestampAsOf) or a restarting stream's batch " +
          "re-execution would be deleted. Append FORCE to override " +
          "(e.g. after quiescing all readers).")
    }
    val retain = effective.map(_ * 3600 * 1000L)
      .getOrElse(7L * 24 * 3600 * 1000)
    Seq(Row(CdcTable.vacuumOrphans(dir, retain).size))
  }
}

/** `GRAFT DELETE FROM '<path>' WHERE <predicate>` — Delta-parity
  * targeted row deletion ([[CdcTable.delete]]): only files actually
  * containing matching rows rewrite; everything else republishes by
  * reference in one atomic optimistic-concurrency commit. */
case class DeleteFromGraftTable(dir: String, predicate: String,
    useDv: Boolean = false) extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(
    attr("rows_deleted", LongType), attr("files_rewritten", LongType),
    attr("files_carried", LongType), attr("commit", LongType))

  override def run(spark: SparkSession): Seq[Row] = {
    // USING DV: the merge-on-read deletion-vector route
    // ([[CdcTable.deleteDV]]) — O(tombstones) sidecar commit, zero
    // data rewrite, folded by the next OPTIMIZE/COMPACT
    val r =
      if (useDv) CdcTable.deleteDV(spark, dir, predicate)
      else CdcTable.delete(spark, dir, predicate)
    Seq(Row(r.rowsDeleted, r.filesRewritten, r.filesCarried, r.commit))
  }
}

/** `GRAFT UPDATE '<path>' SET c1 = e1[, …] WHERE <predicate>` —
  * Delta-parity targeted update ([[CdcTable.update]]): same
  * touched-file-only rewrite machinery as DELETE. */
case class UpdateGraftTable(dir: String,
    assignments: Seq[(String, String)], predicate: String)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(
    attr("rows_updated", LongType), attr("files_rewritten", LongType),
    attr("files_carried", LongType), attr("commit", LongType))

  override def run(spark: SparkSession): Seq[Row] = {
    val r = CdcTable.update(spark, dir, predicate, assignments)
    Seq(Row(r.rowsDeleted, r.filesRewritten, r.filesCarried, r.commit))
  }
}

/** `GRAFT MERGE '<target>' FROM '<source>' ON k1[, k2 …] [EVOLVE]` —
  * keyed upsert ([[CdcTable.merge]]): the source is a graft table when
  * `<source>` has a commit log, else a parquet directory; `EVOLVE`
  * widens the table schema by new source columns (full rewrite). */
case class MergeGraftTable(dir: String, sourceDir: String,
    keys: Seq[String], evolve: Boolean = false,
    useDv: Boolean = false)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(
    attr("rows_matched", LongType), attr("files_rewritten", LongType),
    attr("files_carried", LongType), attr("commit", LongType))

  override def run(spark: SparkSession): Seq[Row] = {
    require(!(evolve && useDv),
      "EVOLVE needs the rewrite route (a widened schema forces a " +
        "full rewrite by construction) — drop USING DV")
    val source =
      if (CdcTable.log(sourceDir).nonEmpty)
        CdcTable.read(spark, sourceDir)
      else spark.read.parquet(sourceDir)
    // USING DV: merge-on-read (matched positions die via a DV
    // sidecar, the source appends as fresh files, nothing rewrites)
    val r =
      if (useDv) CdcTable.mergeDV(spark, dir, source, keys)
      else CdcTable.merge(spark, dir, source, keys,
        evolveSchema = evolve)
    Seq(Row(r.rowsDeleted, r.filesRewritten, r.filesCarried, r.commit))
  }
}

/** `GRAFT RECONCILE '<target>' FROM '<source>' ON key
  * [COMPARE c1, c2, …] [REPAIR]` — source↔target reconciliation from
  * pure SQL (reference FR-021): counts missing / extra / mismatched
  * rows from the pinned rows of one [[graft.reconcile.Reconciler.diff]]
  * pass; with `REPAIR`, the repair plan built from that same diff is
  * APPLIED (keyed MERGE upserts + keyed DELETE of
  * extras, both carry-by-reference commits) and the post-repair state
  * converges to the source. `<source>` is a graft table when it has a
  * commit log, else a parquet directory. COMPARE defaults to every
  * shared non-key column. Columns the target has but the source lacks
  * (e.g. `_ingestion_date` over a plain parquet source) are preserved
  * from the existing target row on repaired keys, never null-filled
  * ([[graft.reconcile.Reconciler.applyRepair]]). Report-only runs
  * emit -1 for the repair columns. */
case class ReconcileGraftTable(dir: String, sourceDir: String,
    key: String, compareCols: Seq[String], repair: Boolean)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(
    attr("missing_in_target", LongType), attr("extra_in_target", LongType),
    attr("mismatched", LongType), attr("repaired_upserts", LongType),
    attr("repaired_deletes", LongType))

  override def run(spark: SparkSession): Seq[Row] = {
    import graft.reconcile.Reconciler
    val source =
      if (CdcTable.log(sourceDir).nonEmpty) CdcTable.read(spark, sourceDir)
      else spark.read.parquet(sourceDir)
    val tgt = CdcTable.read(spark, dir)
    val cols =
      if (compareCols.nonEmpty) compareCols
      else source.columns.filter(tgt.columns.contains)
        .filterNot(_ == key).toSeq
    require(cols.nonEmpty,
      s"no shared non-key columns to compare between $sourceDir and $dir")
    val d = Reconciler.diff(source, tgt, key, cols)
    val (miss, extra, mism) = (d.missingInTarget.count(),
      d.extraInTarget.count(), d.mismatched.count())
    if (repair) {
      // reuse the diff already computed for the report — repairPlan
      // would otherwise run the join a second time
      val res = Reconciler.applyRepair(spark, dir,
        Reconciler.repairPlanFrom(d, source, key), key)
      Seq(Row(miss, extra, mism,
        miss + mism, res.deleted.rowsDeleted))
    } else Seq(Row(miss, extra, mism, -1L, -1L))
  }
}

/** `GRAFT DETAIL '<path>'` — Delta `DESCRIBE DETAIL` parity: one row
  * of table structure + live storage footprint from the manifest. */
case class DetailGraftTable(dir: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(
    attr("commits", LongType), attr("schema_version", LongType),
    attr("generations", LongType), attr("live_files", LongType),
    attr("live_bytes", LongType), attr("live_rows_est", LongType),
    attr("last_commit_ts", LongType), attr("n_constraints", LongType))

  override def run(spark: SparkSession): Seq[Row] = {
    val d = CdcTable.detail(dir)
    Seq(Row(d.commits, d.schemaVersion, d.generations, d.liveFiles,
      d.liveBytes, d.rowsEstimate, d.lastCommitTs, d.constraints))
  }
}

/** `GRAFT PROFILE '<path>' [COLUMNS c1, …] [K n]` — one-pass table
  * profiling ([[graft.ext.Profile]]): per-column row/null counts, a
  * KMV distinct estimate (k-bounded sketch state), and min/max, in a
  * single scan of the table's current state. Default columns = every
  * atomic-typed top-level column; complex/binary columns have no
  * portable ordering or canonical string form and must be profiled
  * through a derived column instead. Output is one bounded row per
  * column (metadata-scale collect). */
case class ProfileGraftTable(dir: String, cols: Seq[String], k: Int)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(
    attr("column", StringType), attr("n_rows", LongType),
    attr("n_null", LongType), attr("est_distinct", LongType),
    AttributeReference("min_s", StringType, nullable = true)(),
    AttributeReference("max_s", StringType, nullable = true)())

  override def run(spark: SparkSession): Seq[Row] = {
    val df = CdcTable.read(spark, dir)
    val atomic = df.schema.fields.filter(_.dataType match {
      case _: StructType | _: ArrayType | _: MapType | BinaryType =>
        false
      case _ => true
    }).map(_.name).toSeq
    val chosen = if (cols.isEmpty) atomic else cols
    val missing = chosen.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"GRAFT PROFILE: no such column(s): ${missing.mkString(", ")}")
    require(chosen.nonEmpty,
      s"GRAFT PROFILE: $dir has no atomic-typed columns to profile")
    // driver-side collect is bounded by COLUMN count (one row per
    // profiled column), never by table size
    graft.ext.Profile.profile(df, chosen, k).collect().toSeq
  }
}

/** `GRAFT PROFILE INDEX '<path>' [AT COMMIT n]` — serve the profile
  * from an INCREMENTAL profile index
  * ([[graft.ext.Profile.profileAppend]]): the same six-column result
  * as `GRAFT PROFILE`, merged from the stored partials with ZERO
  * corpus IO — counts are additive, the KMV k-mins union-combine and
  * min/max are associative, so the served profile is bit-identical
  * to a full scan. `AT COMMIT n` time-travels (file-keyed indexes
  * only — the manifest join selects the snapshot's files; batch
  * partials have no per-snapshot identity and reject loudly).
  * `GRAFT COMPACT INDEX` folds the partials. */
case class ProfileGraftIndex(dir: String,
    commitAsOf: Option[Long] = None) extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(
    attr("column", StringType), attr("n_rows", LongType),
    attr("n_null", LongType), attr("est_distinct", LongType),
    AttributeReference("min_s", StringType, nullable = true)(),
    AttributeReference("max_s", StringType, nullable = true)())

  override def run(spark: SparkSession): Seq[Row] = {
    // file-keyed indexes (profileSyncFiles) carry a `file` column and
    // serve through the manifest join; batch-keyed ones merge all
    // stored partials — one SQL entry point either way
    val byFile = CdcTable.currentSchema(dir)
      .exists(_.fieldNames.contains("file"))
    require(byFile || commitAsOf.isEmpty,
      s"GRAFT PROFILE INDEX … AT COMMIT: $dir is a batch-keyed " +
        "profile index — per-batch partials have no per-snapshot " +
        "identity; recreate it BY FILE for time-travel profiles")
    (if (byFile)
      graft.ext.Profile.profileReadFiles(spark, dir, commitAsOf)
    else graft.ext.Profile.profileRead(spark, dir)).collect().toSeq
  }
}

/** `GRAFT SYNC PROFILE '<idx>' FROM '<table>' COLUMNS c1, … [K n]
  * [BY FILE]` — maintain a profile index from a live table
  * ([[graft.ext.Profile.profileSync]]): folds in exactly the table
  * commits the index has not seen (O(changed commits), zero IO when
  * fresh); append-only tables only — partials cannot subtract. With
  * `BY FILE` the index keys partials by DATA FILE instead
  * ([[graft.ext.Profile.profileSyncFiles]]): DML/OPTIMIZE/replace
  * reduce to manifest file swaps, and `GRAFT PROFILE INDEX` serves
  * any snapshot as a manifest join. Returns the number of commits
  * (BY FILE: files) synced. */
case class SyncGraftProfile(indexDir: String, tableDir: String,
    cols: Seq[String], k: Option[Int], byFile: Boolean = false)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] =
    Seq(attr("n_synced", IntegerType))

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(
      if (byFile)
        graft.ext.Profile.profileSyncFiles(spark, tableDir, indexDir,
          cols, k)
      else
        graft.ext.Profile.profileSync(spark, tableDir, indexDir,
          cols, k)))
}

/** `GRAFT HISTORY '<path>'` — the commit log as rows. */
/** GRAFT RESTORE '<path>' TO COMMIT n | TO TIMESTAMP ms — Delta
  * RESTORE parity, metadata-only (see [[CdcTable.restore]]): the
  * snapshot's files are re-committed by reference, schema evolution
  * rolls back, history is preserved. The vacuum retention bounds how
  * far back a restore can reach. */
case class RestoreGraftTable(dir: String, commitAsOf: Option[Long],
    timestampAsOf: Option[Long]) extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(
    attr("schema_version", LongType), attr("current_commit", LongType))

  override def run(spark: SparkSession): Seq[Row] = {
    val sv = CdcTable.restore(dir, commitAsOf, timestampAsOf)
    // current_commit is the new log TAIL's commit id — NOT
    // currentVersion (which is the tail's schemaVersion and reads a
    // rolled-back number after a restore)
    Seq(Row(sv, CdcTable.log(dir).last.commit))
  }
}

/** GRAFT RENAME COLUMN '<path>' FROM a TO b — metadata-only column
  * mapping (see [[CdcTable.renameColumn]]): one commit records the
  * mapping; pre-rename files keep their physical name and every read
  * applies the rename chain. */
case class RenameGraftColumn(dir: String, from: String, to: String)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(
    attr("schema_version", LongType))

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(CdcTable.renameColumn(dir, from, to)))
}

/** GRAFT ADD COLUMN '<path>' <name> <type> — metadata-only schema
  * widening (see [[CdcTable.addColumn]]): declares a nullable column
  * of the GIVEN type before any writer sends it. */
case class AddGraftColumn(dir: String, name: String, typeSql: String)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(
    attr("schema_version", LongType))

  override def run(spark: SparkSession): Seq[Row] = {
    val dt = org.apache.spark.sql.types.DataType
      .fromDDL(typeSql) // "bigint", "array<float>", "decimal(10,2)"…
    Seq(Row(CdcTable.addColumn(dir, name, dt)))
  }
}

/** `GRAFT DELETE KEYS '<target>' FROM '<source>' ON k1[, …]
  * [USING DV]` — keyed right-to-be-forgotten deletion from pure SQL:
  * every target row whose key tuple appears in the source is removed.
  * Default route is the carry-by-reference rewrite
  * ([[CdcTable.deleteKeys]]); `USING DV` takes the merge-on-read
  * deletion-vector route ([[CdcTable.deleteKeysDV]]) — one
  * O(tombstones) sidecar commit, zero data rewrite, folded by the
  * next OPTIMIZE/COMPACT. Both emit `delete` change rows into the
  * feed. `<source>` is a graft table when it has a commit log, else a
  * parquet directory. Composes with `GRAFT RETRACT INDEX … FROM` so
  * the corpus delete and the index retraction share one key list. */
case class DeleteKeysGraftTable(dir: String, sourceDir: String,
    keys: Seq[String], useDv: Boolean) extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(
    attr("rows_deleted", LongType), attr("files_rewritten", LongType),
    attr("files_carried", LongType), attr("commit", LongType))

  override def run(spark: SparkSession): Seq[Row] = {
    val source =
      if (CdcTable.log(sourceDir).nonEmpty)
        CdcTable.read(spark, sourceDir)
      else spark.read.parquet(sourceDir)
    val r =
      if (useDv) CdcTable.deleteKeysDV(spark, dir, source, keys)
      else CdcTable.deleteKeys(spark, dir, source, keys)
    Seq(Row(r.rowsDeleted, r.filesRewritten, r.filesCarried, r.commit))
  }
}

/** GRAFT ALTER COLUMN '<path>' <name> TYPE <type> — metadata-only
  * TYPE WIDENING along the schema-merge lattice (see
  * [[CdcTable.widenColumn]]): one commit, zero data IO; pre-widening
  * files cast up at read. Narrowing rejects loudly. */
case class AlterGraftColumnType(dir: String, name: String,
    typeSql: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(
    attr("schema_version", LongType))

  override def run(spark: SparkSession): Seq[Row] = {
    val dt = org.apache.spark.sql.types.DataType.fromDDL(typeSql)
    Seq(Row(CdcTable.widenColumn(dir, name, dt)))
  }
}

/** GRAFT ADD CONSTRAINT '<path>' <name> CHECK (<expr>) — Delta
  * `ALTER TABLE … ADD CONSTRAINT` parity ([[CdcTable.addConstraint]]):
  * validates existing rows with one scan, then one fileless commit;
  * every later append / UPDATE / MERGE enforces the invariant inside
  * the write job itself (violation iff FALSE — NULL passes). */
case class AddGraftConstraint(dir: String, name: String,
    exprSql: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(attr("commit", LongType))

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(CdcTable.addConstraint(spark, dir, name, exprSql)))
}

/** GRAFT DROP CONSTRAINT '<path>' <name> — one fileless commit;
  * later writes stop enforcing ([[CdcTable.dropConstraint]]). */
case class DropGraftConstraint(dir: String, name: String)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(attr("commit", LongType))

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(CdcTable.dropConstraint(dir, name)))
}

/** GRAFT CONSTRAINTS '<path>' — list the table's current CHECK
  * constraints (name, expression, referenced columns). */
case class ShowGraftConstraints(dir: String)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(
    attr("name", StringType), attr("check_expr", StringType),
    attr("columns", StringType))

  override def run(spark: SparkSession): Seq[Row] =
    CdcTable.constraints(dir).map(c =>
      Row(c.name, c.expr, c.cols.mkString(",")))
}

/** GRAFT ADD COLUMN '<path>' <name> <type> GENERATED AS (<expr>) —
  * Delta `GENERATED ALWAYS AS` parity ([[CdcTable
  * .addGeneratedColumn]]): metadata-only; writers compute the column
  * when a batch lacks it (derived-date partitioning) and verify it
  * in-write when one provides it. */
case class AddGraftGeneratedColumn(dir: String, name: String,
    typeSql: String, exprSql: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(
    attr("schema_version", LongType))

  override def run(spark: SparkSession): Seq[Row] = {
    val dt = org.apache.spark.sql.types.DataType.fromDDL(typeSql)
    Seq(Row(CdcTable.addGeneratedColumn(spark, dir, name, dt, exprSql)))
  }
}

/** GRAFT SET PROPERTY '<path>' 'key' = 'value' — Delta TBLPROPERTIES
  * parity ([[CdcTable.setProperty]]): one fileless commit; the
  * current map is the ordered fold over the log. Writer-honored:
  * `graft.vacuum.retainHours` overrides the VACUUM default. */
case class SetGraftProperty(dir: String, key: String, value: String)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(attr("commit", LongType))

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(CdcTable.setProperty(dir, key, value)))
}

/** GRAFT UNSET PROPERTY '<path>' 'key'. */
case class UnsetGraftProperty(dir: String, key: String)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(attr("commit", LongType))

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(CdcTable.unsetProperty(dir, key)))
}

/** GRAFT PROPERTIES '<path>' — list the current property map. */
case class ShowGraftProperties(dir: String)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(
    attr("key", StringType), attr("value", StringType))

  override def run(spark: SparkSession): Seq[Row] =
    CdcTable.properties(dir).toSeq.map(p => Row(p._1, p._2))
}

/** GRAFT DROP COLUMN '<path>' <name> — metadata-only column drop
  * (see [[CdcTable.dropColumn]]): one commit narrows the schema; the
  * physical bytes stay until the next DML modernizes old files. */
case class DropGraftColumn(dir: String, name: String)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(
    attr("schema_version", LongType))

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(CdcTable.dropColumn(dir, name)))
}

/** GRAFT CLONE '<src>' TO '<dst>' — shallow clone (see
  * [[CdcTable.cloneShallow]]): a new independent table whose manifest
  * borrows the source's current data files by absolute path; no data
  * copies. Source-side VACUUM after a source rewrite is the documented
  * hazard — materialize with GRAFT OPTIMIZE on the clone to detach. */
case class CloneGraftTable(srcDir: String, dstDir: String)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(
    attr("borrowed_files", LongType))

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(CdcTable.cloneShallow(srcDir, dstDir)))
}

case class HistoryGraftTable(dir: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr

  override val output: Seq[Attribute] = Seq(
    attr("commit", LongType), attr("commit_ts", LongType),
    attr("action", StringType), attr("schema_version", LongType),
    attr("n_files", IntegerType), attr("n_rows", LongType),
    attr("n_changes", IntegerType), attr("n_dvs", IntegerType),
    attr("n_removed", IntegerType), attr("features", StringType))

  override def run(spark: SparkSession): Seq[Row] =
    CdcTable.log(dir).map(c =>
      Row(c.commit, c.ts, c.action, c.schemaVersion, c.files.size,
        c.fileRows.values.sum, c.changeFiles.size, c.dvFiles.size,
        c.removedFiles.size,
        (c.requires ++ c.writerRequires.map("writer:" + _))
          .mkString(",")))
}
