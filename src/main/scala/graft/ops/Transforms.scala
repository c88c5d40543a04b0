package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.logging.log4j.LogManager
import graft.core.FlowFrame
import graft.el.ElCompiler

/**
 * Projection / scalar-transform operators — SURVEY §2.4.
 *
 * All pure Catalyst column expressions (whole-stage codegen); content-free
 * operators never reference the `content` column so Parquet column pruning
 * keeps them metadata-only at 100 TB (FlowFrame scale note).
 */
object Transforms {

  private val log = LogManager.getLogger("graft.ops.Transforms")

  /**
   * UpdateAttribute (UpdateAttribute.cpp:37): dynamic properties
   * (name → EL template) always overwrite attributes.
   */
  def updateAttribute(df: DataFrame, props: Seq[(String, String)],
                      attrs: ElCompiler.AttrResolver = ElCompiler.flowAttrs): DataFrame =
    FlowFrame.withAttrs(df, props.map { case (k, el) => k -> ElCompiler.template(el, attrs) })

  /**
   * ExtractText (ExtractText.cpp:45): run regexes over content; capture
   * group g of pattern p → attribute `name` (convention `name`, `name.N`).
   */
  def extractText(df: DataFrame, contentCol: Column,
                  patterns: Seq[(String, String, Int)]): DataFrame =
    FlowFrame.withAttrs(df, patterns.map { case (name, pat, group) =>
      name -> regexp_extract(contentCol, pat, group)
    })

  /**
   * ExtractText full Regex Mode (ExtractText.cpp:89-131): each dynamic
   * property (name → regex) is searched repeatedly over content; every
   * capture group of every match gets `name.<matchcount>` where matchcount
   * runs match-major then group-minor (match 1 group g0, g1, …, match 2
   * g0, …), starting at group 0 when `includeGroupZero` (the whole-match
   * text) else group 1. The FIRST value also lands on the bare `name`.
   * Without `repeating` only the first match is taken
   * (`EnableRepeatingCaptureGroup`). Values truncate to `maxCaptureLen`
   * chars (`MaxCaptureGroupLen`); content truncates to `sizeLimit` BYTES
   * before matching (`SizeLimit`, 0 = unlimited); `caseInsensitive` maps
   * to an embedded `(?i)` flag (`InsensitiveMatch`).
   *
   * Shape: per-group `regexp_extract_all` arrays interleaved match-major
   * with higher-order functions — narrow, codegen-friendly, no UDF; the
   * dynamic (per-row) attribute count lands as one map column merged via
   * [[FlowFrame.withAttrsMap]].
   */
  def extractTextRegex(df: DataFrame, contentCol: Column,
                       patterns: Seq[(String, String)],
                       includeGroupZero: Boolean = true,
                       repeating: Boolean = false,
                       caseInsensitive: Boolean = false,
                       maxCaptureLen: Int = 1024,
                       sizeLimit: Int = 2 * 1024 * 1024): DataFrame = {
    val content =
      if (sizeLimit > 0) substring(contentCol.cast("binary"), 1, sizeLimit).cast("string")
      else contentCol
    val emptyArr = array().cast("array<string>")
    // An unparseable dynamic-property regex is logged and SKIPPED — the
    // other properties still apply (ExtractText.cpp onSchedule catch;
    // ExtractTextTests.cpp "InvalidRegex" case: the error is reported and
    // the valid RegexAttr captures still land).
    val valid = patterns.filter { case (name, pattern) =>
      try { java.util.regex.Pattern.compile(pattern); true }
      catch {
        case e: java.util.regex.PatternSyntaxException =>
          log.warn("error encountered when trying to construct regular " +
            s"expression from property (key: $name): ${e.getMessage}")
          false
      }
    }
    if (valid.isEmpty) return df
    val perPattern: Seq[Column] = valid.map { case (name, pattern) =>
      val nGroups = java.util.regex.Pattern.compile(pattern).matcher("").groupCount()
      val pat = lit(if (caseInsensitive) "(?i)" + pattern else pattern)
      val groups = (if (includeGroupZero) 0 else 1) to nGroups
      val perGroup = groups.map(g => regexp_extract_all(content, pat, lit(g)))
      val nMatches =
        if (repeating) size(perGroup.head) else least(size(perGroup.head), lit(1))
      // match-major interleave; sequence(0, n-1) is invalid for n == 0
      val vals = when(nMatches > 0,
        flatten(transform(sequence(lit(0), nMatches - 1), m =>
          array(perGroup.map(pg =>
            substring(element_at(pg, m + 1), 1, maxCaptureLen)): _*))))
        .otherwise(emptyArr)
      val keys = when(size(vals) > 0,
        concat(array(lit(name)),
          transform(sequence(lit(0), size(vals) - 1),
            i => concat(lit(name + "."), i))))
        .otherwise(emptyArr)
      map_from_arrays(keys,
        when(size(vals) > 0, concat(slice(vals, 1, 1), vals)).otherwise(emptyArr))
    }
    FlowFrame.withAttrsMap(df,
      if (perPattern.size == 1) perPattern.head else map_concat(perPattern: _*))
  }

  /** ReplaceText strategies (ReplaceText.h:50-58 ReplacementStrategyType). */
  sealed trait ReplaceStrategy
  case object LiteralReplace extends ReplaceStrategy
  case object RegexReplace extends ReplaceStrategy
  case object Prepend extends ReplaceStrategy
  case object Append extends ReplaceStrategy
  case object AlwaysReplace extends ReplaceStrategy

  /** Line scoping for line-by-line mode (ReplaceText.h:42-48
    * LineByLineEvaluationModeType). */
  sealed trait LineScope
  case object AllLines extends LineScope
  case object FirstLine extends LineScope
  case object LastLine extends LineScope
  case object ExceptFirstLine extends LineScope
  case object ExceptLastLine extends LineScope

  /**
   * ReplaceText (ReplaceText.cpp:49): entire-text mode. Line-by-line mode =
   * split → transform (higher-order fn, no shuffle) → array_join.
   */
  def replaceText(c: Column, strategy: ReplaceStrategy, search: String,
                  replacement: String): Column = strategy match {
    case LiteralReplace => replace(c, lit(search), lit(replacement))
    case RegexReplace   =>
      regexp_replace(c, search, sanitizeReplacement(search, replacement))
    case Prepend        => concat(lit(replacement), c)
    case Append         => concat(c, lit(replacement))
    case AlwaysReplace  => lit(replacement)
  }

  /** Translate the reference's replacement spelling to Java's and make it
    * total (ReplaceTextTests.cpp:108-146): `$&` → `$0`, `$$` → literal `$`,
    * and back references beyond the pattern's group count become BLANK —
    * Java's Matcher would throw IndexOutOfBounds mid-task instead. */
  private[graft] def sanitizeReplacement(search: String, repl: String): String = {
    val groups = java.util.regex.Pattern.compile(search).matcher("").groupCount()
    val sb = new StringBuilder
    var i = 0
    while (i < repl.length) {
      val ch = repl.charAt(i)
      if (ch == '\\' && i + 1 < repl.length) {          // Java escape: keep
        sb.append(ch).append(repl.charAt(i + 1)); i += 2
      } else if (ch == '\\') {
        sb.append("\\\\"); i += 1                       // trailing lone \
      } else if (ch == '$' && i + 1 < repl.length && repl.charAt(i + 1) == '$') {
        sb.append("\\$"); i += 2                        // reference literal $
      } else if (ch == '$' && i + 1 < repl.length && repl.charAt(i + 1) == '&') {
        sb.append("$0"); i += 2                         // whole-match spelling
      } else if (ch == '$' && i + 1 < repl.length && repl.charAt(i + 1).isDigit) {
        var j = i + 1
        while (j < repl.length && repl.charAt(j).isDigit) j += 1
        val n = repl.substring(i + 1, j).toInt
        if (n <= groups) sb.append(repl.substring(i, j)) // else: blank
        i = j
      } else if (ch == '$') {
        sb.append("\\$"); i += 1  // '$x' / trailing '$': literal, like std::regex
      } else { sb.append(ch); i += 1 }
    }
    sb.toString
  }

  /** Line-by-line ReplaceText (ReplaceText.h:38 LINE_BY_LINE + :42-48 line
    * scoping): apply the strategy to each line in scope, keep the rest —
    * an indexed higher-order transform, one row in → one row out, no
    * explode and no shuffle. */
  def replaceTextLineByLine(c: Column, delimiter: String,
                            strategy: ReplaceStrategy, search: String,
                            replacement: String,
                            scope: LineScope = AllLines): Column = {
    val lines = split(c, java.util.regex.Pattern.quote(delimiter))
    val lastIdx = size(lines) - 1
    def inScope(i: Column): Column = scope match {
      case AllLines        => lit(true)
      case FirstLine       => i === 0
      case LastLine        => i === lastIdx
      case ExceptFirstLine => i =!= 0
      case ExceptLastLine  => i =!= lastIdx
    }
    // empty content has NO lines to process — the reference emits it
    // unchanged even for Prepend/Append (ReplaceTextTests.cpp:342-355,
    // "Size:0"), whereas split("") would yield one empty line
    when(length(c) === 0, c).otherwise(array_join(
      transform(lines, (line, i) =>
        when(inScope(i), replaceText(line, strategy, search, replacement))
          .otherwise(line)),
      delimiter))
  }

  /**
   * ReplaceText SUBSTITUTE_VARIABLES (ReplaceText.cpp:191-226): rewrite
   * `${attr}` placeholders in the CONTENT from the row's attribute map;
   * an unmatched attribute leaves the placeholder verbatim (:224-225).
   *
   * Pure-Catalyst shape: mark placeholder boundaries with a NUL sentinel,
   * split, and map odd segments through the attribute map — no UDF, stays
   * in whole-stage codegen. (Content containing literal NUL bytes is the
   * one unsupported input; the reference's regex pass shares the
   * limitation of not supporting nested placeholders.)
   */
  def substituteVariables(c: Column, attrsMap: Column): Column = {
    val marked = regexp_replace(c, "\\$\\{([^}]+)\\}", "\u0000$1\u0000")
    val parts = split(marked, "\u0000", -1)
    array_join(
      transform(parts, (part, i) =>
        when(i % 2 === 1,
          coalesce(element_at(attrsMap, part),
            concat(lit("${"), part, lit("}"))))
          .otherwise(part)),
      "")
  }

  /**
   * AttributesToJSON (AttributesToJSON.cpp:116): serialize the selected
   * attribute list to a JSON object string (into content or an attribute).
   * Selected names keep their given order, mirroring the attribute-list
   * property.
   */
  /** A selected-but-missing attribute still writes its KEY: `""` by
    * default, JSON null when `nullForMissing` (the NullValue property,
    * AttributesToJSON.cpp:86-92) — to_json's default of omitting null
    * fields would drop the key entirely. */
  def attributesToJson(attrNames: Seq[String],
                       nullForMissing: Boolean = false): Column =
    if (nullForMissing)
      to_json(struct(attrNames.map(n => FlowFrame.attr(n).as(n)): _*),
        Map("ignoreNullFields" -> "false"))
    else
      to_json(struct(attrNames.map(n =>
        coalesce(FlowFrame.attr(n), lit("")).as(n)): _*))

  /**
   * AttributesToJSON explicit selection (AttributesToJSON.cpp:63-83
   * getAttributesToBeWritten): when an Attributes List and/or an
   * Attributes Regular Expression is configured, the selection is their
   * UNION, and the Include Core Attributes filter does NOT apply — core
   * attributes are written if they match the list or regex
   * (AttributesToJSONTests.cpp:250-278). List keys always emit (missing →
   * "" / null per NullValue); regex keys only exist if present.
   */
  def attributesToJsonSelected(attrList: Seq[String], regex: Option[String],
                               nullForMissing: Boolean = false): Column = {
    val listCol: Column =
      if (attrList.isEmpty) map().cast("map<string,string>")
      else map_from_arrays(
        array(attrList.map(lit(_)): _*),
        array(attrList.map(n =>
          if (nullForMissing) FlowFrame.attr(n)
          else coalesce(FlowFrame.attr(n), lit(""))): _*))
    val selected = regex match {
      case Some(r) =>
        // whole-name match (utils::regexMatch, AttributesToJSON.cpp:76)
        val anchored = graft.el.ElCompiler.anchor(r)
        val listKeys = array(attrList.map(lit(_)): _*)
        map_concat(listCol, map_filter(col(FlowFrame.Attributes),
          (k, _) => k.rlike(anchored) && !array_contains(listKeys, k)))
      case None => listCol
    }
    to_json(selected)
  }

  /**
   * AttributesToJSON default mode — no list, no regex: ALL attributes,
   * minus the core attribute set when `includeCore` is false
   * (AttributesToJSON.cpp:58-61,102-107; SpecialFlowAttribute.h:22-33).
   * Key order follows the attribute map.
   */
  def attributesToJsonAll(includeCore: Boolean = true): Column = {
    val core = Seq(FlowFrame.CoreAttrs.Path, FlowFrame.CoreAttrs.AbsolutePath,
      FlowFrame.CoreAttrs.Filename, FlowFrame.CoreAttrs.Uuid,
      FlowFrame.CoreAttrs.Priority, FlowFrame.CoreAttrs.MimeType,
      FlowFrame.CoreAttrs.FlowId)
    val selected =
      if (includeCore) col(FlowFrame.Attributes)
      else map_filter(col(FlowFrame.Attributes),
        (k, _) => !k.isin(core.map(lit(_)): _*))
    to_json(selected)
  }

  /**
   * EvaluateJsonPath (EvaluateJsonPath.cpp:96): JSONPath over content —
   * dynamic properties (attr name → path) become attributes; path-not-found
   * yields null (caller routes by null-check, matching `unmatched`).
   */
  def evaluateJsonPath(df: DataFrame, contentCol: Column,
                       paths: Seq[(String, String)]): DataFrame =
    FlowFrame.withAttrs(df, paths.map { case (name, path) =>
      name -> get_json_object(contentCol, path)
    })

  /**
   * EvaluateJsonPath with Path Not Found routing (EvaluateJsonPath.h:32-48):
   * a row whose paths do not ALL resolve routes to `unmatched` instead of
   * carrying nulls silently — the reference's strict destination mode.
   */
  def evaluateJsonPathRouted(df: DataFrame, contentCol: Column,
                             paths: Seq[(String, String)]): DataFrame = {
    val evaluated = evaluateJsonPath(df, contentCol, paths)
    val allFound = paths.map { case (name, _) =>
      FlowFrame.attr(name).isNotNull
    }.reduce(_ && _)
    evaluated.withColumn(FlowFrame.Relationship,
      when(allFound, "matched").otherwise("unmatched"))
  }

  /**
   * Multi-match wildcard query (`$.a[*].b`): jsoncons json_query
   * semantics via get_json_object — one match yields the bare value,
   * several yield a JSON array (extractQueryResult takes the lone element
   * out of a one-element result set, EvaluateJsonPath.cpp:120-130).
   * Non-scalar detection re-parses the result text: a genuine array/object
   * result is valid JSON, a string scalar that merely starts with '[' is
   * not. Conflations inherent to get_json_object's unquoted output: a
   * string scalar whose text IS valid JSON (e.g. "[1,2]") classifies as
   * non-scalar, and a lone null match is indistinguishable from a miss.
   * Returns (result, isJsonNull, isNonScalar, renderedValue).
   */
  private def wildcardQuery(contentCol: Column, path: String,
                            nullRepr: Column): (Column, Column, Column, Column) = {
    // get_json_object already unwraps one-element result sets but returns
    // the element's raw JSON (strings stay quoted) — re-parse to classify
    // and to unquote scalars via the variant cast
    val q = get_json_object(contentCol.cast("string"), path)
    val parsed = call_function("try_parse_json", q)
    val nonScalar = parsed.isNotNull &&
      call_function("schema_of_variant", parsed).rlike("^(OBJECT|ARRAY|STRUCT|MAP)")
    val vnull = parsed.isNotNull && call_function("is_variant_null", parsed)
    val value = when(vnull, nullRepr)
      .when(nonScalar, q)
      .when(parsed.isNotNull, parsed.cast("string"))
      .otherwise(q)
    (q, vnull, nonScalar, value)
  }

  /** EvaluateJsonPath Return Type (EvaluateJsonPath.h:41-45). */
  sealed trait JsonReturnType
  /** Scalar for the attribute destination, JSON for content
    * (EvaluateJsonPath.cpp:57-63 onSchedule resolution). */
  case object JsonAutoDetect extends JsonReturnType
  case object JsonText extends JsonReturnType
  case object JsonScalar extends JsonReturnType

  /** Path Not Found behavior (EvaluateJsonPath.h:47-51): Warn and Ignore
    * both set the attribute to "" (they differ only in logging); Skip
    * leaves the attribute unset. */
  sealed trait PathNotFoundBehavior
  case object SetEmptyOnMiss extends PathNotFoundBehavior
  case object SkipOnMiss extends PathNotFoundBehavior

  /**
   * EvaluateJsonPath, full attribute-destination semantics
   * (EvaluateJsonPath.cpp:96-168): empty or unparseable content → `failure`;
   * per path, a JSON **null** value renders as "" or "null"
   * (`NullValueRepresentation`), a missing path sets "" or skips the
   * attribute (`PathNotFoundBehavior`), a scalar renders bare (strings
   * unquoted, extractQueryResult), and a non-scalar renders as JSON text
   * under `JsonText` but routes the row to `failure` under `JsonScalar`
   * (the `AutoDetect` resolution for attributes). Failure rows keep their
   * attribute map unchanged (the reference's partial writes on the failure
   * path depend on unordered-map property order — unspecified, so not
   * reproduced).
   *
   * Null-vs-missing needs real JSON semantics, which `get_json_object`
   * conflates: single-result paths (`$.a.b[0]`) use Spark 4 VARIANT
   * (`try_parse_json` + `try_variant_get` + `is_variant_null`) — missing
   * path = SQL NULL variant, JSON null = variant null. Multi-match
   * wildcard paths (`$.a[*].b`) evaluate through [[wildcardQuery]], with
   * that helper's documented conflations.
   */
  def evaluateJsonPathFull(df: DataFrame, contentCol: Column,
                           paths: Seq[(String, String)],
                           returnType: JsonReturnType = JsonAutoDetect,
                           pathNotFound: PathNotFoundBehavior = SetEmptyOnMiss,
                           nullAsEmptyString: Boolean = true): DataFrame = {
    val scalarType = returnType != JsonText // AutoDetect → Scalar here
    val v = call_function("try_parse_json", contentCol.cast("string"))
    val invalid = contentCol.isNull || length(contentCol) === 0 || v.isNull
    val nullRepr = lit(if (nullAsEmptyString) "" else "null")
    val ps = paths.map { case (name, path) =>
      if (path.contains("[*]")) {
        // multi-match wildcard path — same engine as the content variant
        val (q, vnull, nonScalar, value) =
          wildcardQuery(contentCol, path, nullRepr)
        (name, q.isNull, vnull, nonScalar, value)
      } else {
        val pv = call_function("try_variant_get", v, lit(path))
        val missing = pv.isNull
        val vnull = call_function("is_variant_null", pv)
        val nonScalar =
          call_function("schema_of_variant", pv).rlike("^(OBJECT|ARRAY|STRUCT|MAP)")
        val value = when(vnull, nullRepr)
          .when(nonScalar, to_json(pv))
          .otherwise(pv.cast("string"))
        (name, missing, vnull, nonScalar, value)
      }
    }
    val scalarViolation = ps.map { case (_, missing, vnull, nonScalar, _) =>
      !missing && !vnull && nonScalar
    }.reduce(_ || _)
    val fail = invalid || (lit(scalarType) && scalarViolation)
    val entries = array(ps.map { case (name, missing, _, _, value) =>
      struct(lit(name).as("k"),
        when(missing, lit("")).otherwise(value).as("v"),
        (!missing || lit(pathNotFound == SetEmptyOnMiss)).as("inc"))
    }: _*)
    val kept = filter(entries, e => e.getField("inc"))
    val updates = map_from_arrays(
      transform(kept, _.getField("k")), transform(kept, _.getField("v")))
    val emptyMap = map_from_arrays(
      array().cast("array<string>"), array().cast("array<string>"))
    FlowFrame.withAttrsMap(df, when(fail, emptyMap).otherwise(updates))
      .withColumn(FlowFrame.Relationship,
        when(fail, "failure").otherwise("matched"))
  }

  /**
   * EvaluateJsonPath, content destination (EvaluateJsonPath.cpp:141-147,
   * 170-180): ONE path replaces content; a missing path routes to
   * `unmatched` with content unchanged; `AutoDetect` resolves to JSON here.
   */
  def evaluateJsonPathContent(df: DataFrame, contentCol: Column, path: String,
                              returnType: JsonReturnType = JsonAutoDetect,
                              nullAsEmptyString: Boolean = true): DataFrame = {
    val scalarType = returnType == JsonScalar // AutoDetect → JSON here
    val v = call_function("try_parse_json", contentCol.cast("string"))
    val invalid = contentCol.isNull || length(contentCol) === 0 || v.isNull
    val (pv, vnull, nonScalar, value) =
      if (path.contains("[*]"))
        wildcardQuery(contentCol, path,
          lit(if (nullAsEmptyString) "" else "null"))
      else {
        val pv = call_function("try_variant_get", v, lit(path))
        val vnull = call_function("is_variant_null", pv)
        val nonScalar =
          call_function("schema_of_variant", pv).rlike("^(OBJECT|ARRAY|STRUCT|MAP)")
        val value = when(vnull, lit(if (nullAsEmptyString) "" else "null"))
          .when(nonScalar, to_json(pv))
          .otherwise(pv.cast("string"))
        (pv, vnull, nonScalar, value)
      }
    val rel = when(invalid, "failure")
      .when(pv.isNull, "unmatched")
      .when(lit(scalarType) && nonScalar && !vnull, "failure")
      .otherwise("matched")
    df.withColumn(FlowFrame.Relationship, rel)
      .withColumn(FlowFrame.Content,
        when(col(FlowFrame.Relationship) === "matched", value)
          .otherwise(contentCol))
  }

  /**
   * HashContent (HashContent.h:146-159, HashContent.cpp:57): hash the raw
   * content claim into an attribute. MD5/SHA1/SHA256 per the algorithm
   * property; hashes the content bytes, so BINARY is passed through uncast.
   */
  def hashContent(c: Column, algorithm: String): Column = algorithm.toUpperCase match {
    case "MD5"    => md5(c.cast("binary"))
    case "SHA1"   => sha1(c.cast("binary"))
    case "SHA256" => sha2(c.cast("binary"), 256)
    case other    => throw new IllegalArgumentException(s"unsupported hash $other")
  }

  /**
   * AppendHostInfo (AppendHostInfo.cpp:55-100): adds hostname/IP
   * attributes — resolved at plan-build time on the driver (lit),
   * matching the reference's onSchedule resolution (Refresh Policy's
   * scheduled refresh collapses into the build). With a Network Interface
   * Filter, the IPv4 addresses of every whole-name-matching interface
   * join with commas; a filter matching NO interface leaves the IP
   * attribute off entirely (AppendHostInfoTests.cpp:42-58).
   */
  def appendHostInfo(df: DataFrame, hostnameAttr: String = "source.hostname",
                     ipAttr: String = "source.ipv4",
                     interfaceNameFilter: Option[String] = None): DataFrame = {
    val host = java.net.InetAddress.getLocalHost
    val ips: Option[String] = interfaceNameFilter match {
      case None => Some(host.getHostAddress)
      case Some(re) =>
        import scala.jdk.CollectionConverters._
        val p = java.util.regex.Pattern.compile(re)
        val matched = java.net.NetworkInterface.getNetworkInterfaces.asScala
          .filter(ni => p.matcher(ni.getName).matches())
          .flatMap(_.getInetAddresses.asScala)
          .collect { case a: java.net.Inet4Address => a.getHostAddress }
          .toSeq.distinct
        if (matched.isEmpty) None else Some(matched.mkString(","))
    }
    FlowFrame.withAttrs(df,
      Seq(hostnameAttr -> lit(host.getHostName)) ++
        ips.map(v => ipAttr -> lit(v)))
  }

  /**
   * LogAttribute (LogAttribute.cpp): debug sink — renders the attribute map
   * as the reference's log payload ("key:value" lines, sorted for
   * determinism). Returned as a column so callers can `.show()` or collect.
   */
  def logAttributePayload: Column =
    array_join(
      transform(
        array_sort(map_entries(col(FlowFrame.Attributes))),
        e => concat(lit("key:"), e.getField("key"), lit(" value:"), e.getField("value"))),
      "\n")

  /** fmt "{:-^50}" (LogAttribute.cpp:72): the prefix centered in a
    * 50-char dash line, extra fill on the right; an over-long prefix
    * stands alone. */
  private[graft] def logDashLine(prefix: String): String =
    if (prefix.length >= 50) prefix
    else {
      val pad = 50 - prefix.length
      "-" * (pad / 2) + prefix + "-" * (pad - pad / 2)
    }

  /**
   * Full LogAttribute message (generateLogMessage, LogAttribute.cpp:78-122):
   * header + dash line + standard attributes (uuid, size, offset 0) +
   * the attribute map filtered by Attributes to Log / Attributes to Ignore
   * (log-list first, then ignores — both optional), then the payload when
   * `logPayload` and the content is within the 1 MiB cap (hex-encoded on
   * request, wrapped at `maxLineLength`, 0 = one line), closed by the
   * dash line. Attribute order is sorted — the reference iterates a
   * std::map, so the attribute-map section matches byte-for-byte.
   * EntryDate/lineageStartDate render with the reference TIME_FORMAT
   * ("%Y-%m-%d %H:%M:%S" at ms precision, TimeUtil.h:45,79);
   * lineageStartDate equals EntryDate here — FlowFrame does not track a
   * separate lineage epoch (clones inherit entryDate). The reference's
   * conditional "Content Claim:" line is omitted: content is inline in
   * the frame, so there is no resource claim, matching the reference's
   * no-claim branch (LogAttribute.cpp:96-98).
   */
  def logAttributeMessage(content: Column,
                          attributesToLog: Option[Seq[String]] = None,
                          attributesToIgnore: Option[Seq[String]] = None,
                          logPayload: Boolean = false,
                          hexencode: Boolean = false,
                          maxLineLength: Int = 80,
                          logPrefix: String = ""): Column = {
    val dash = lit(logDashLine(logPrefix))
    val kept0 = attributesToLog match {
      case Some(names) => map_filter(col(FlowFrame.Attributes),
        (k, _) => k.isin(names: _*))
      case None => col(FlowFrame.Attributes)
    }
    val kept = attributesToIgnore match {
      case Some(names) => map_filter(kept0, (k, _) => !k.isin(names: _*))
      case None => kept0
    }
    val attrLines = concat(
      lit("\nFlowFile Attributes Map Content"),
      array_join(
        transform(array_sort(map_entries(kept)),
          e => concat(lit("\nkey:"), e.getField("key"),
            lit(" value:"), e.getField("value"))), ""))
    val bytes = content.cast("binary")
    val size = length(bytes)
    val payloadText =
      if (hexencode) lower(hex(bytes)) else content.cast("string")
    val wrapped =
      if (maxLineLength == 0) concat(payloadText, lit("\n"))
      else when(length(payloadText) === 0, lit(""))  // empty chunk loop emits nothing
        .otherwise(concat(array_join(
          // chunk the printable payload at the line cap
          transform(
            sequence(lit(0),
              greatest(floor((length(payloadText) - 1) / maxLineLength)
                .cast("int"), lit(0))),
            i => substring(payloadText, (i * maxLineLength + 1).cast("int"),
              lit(maxLineLength))),
          "\n"), lit("\n")))
    val payloadPart =
      if (logPayload)
        when(size <= 1024 * 1024, concat(lit("\nPayload:\n"), wrapped))
          .otherwise(lit("\n"))
      else lit("\n")
    val timeStr = date_format(col(FlowFrame.EntryDate),
      "yyyy-MM-dd HH:mm:ss.SSS")
    concat(
      lit("Logging for flow file\n"), dash,
      lit("\nStandard FlowFile Attributes"),
      lit("\nUUID:"), col(FlowFrame.Uuid).cast("string"),
      lit("\nEntryDate:"), timeStr,
      lit("\nlineageStartDate:"), timeStr,
      lit("\nSize:"), size.cast("string"), lit(" Offset:0"),
      attrLines,
      lit("\nFlowFile Resource Claim Content"),
      payloadPart,
      dash)
  }
}
