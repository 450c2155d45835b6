package graft.serve

import com.sun.net.httpserver.{HttpExchange, HttpServer, HttpsConfigurator, HttpsServer}
import graft.{SparkEntry, Tables}
import graft.operators.{Cohort, CohortQuery}
import graft.sources.{Snapshots, Sources}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

import java.net.{InetAddress, InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Paths
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong
import scala.util.control.NonFatal

/** The reference is a SERVICE: clients discover resources from a
  * service document, post cohort queries, and read per-criterion
  * counts, item statistics and metadata search results over HTTP.
  * This is that surface for graft — a thin JSON control plane over
  * the library, built on the JDK's own `jdk.httpserver` module (zero
  * added dependencies; json4s is Spark's own JSON stack).
  *
  * Scale contract: the server never becomes a data plane. Every
  * endpoint either returns an aggregate (counts, stats, frequencies —
  * cluster-side partial aggregation, tiny result) or is explicitly
  * bounded (`limit` query param, hard-capped by `Config.maxRows`,
  * with a `truncated` marker). Bounded does not mean export-only:
  * every page over a totally-ordered result carries a `next_after`
  * keyset cursor, so a client walks an arbitrarily large result in
  * `limit`-sized pages while each page's filter pushes down to the
  * scan (no offset re-reads). The Spark work itself runs wherever
  * the session runs — `local[n]` here, a 1000-executor cluster in
  * production — and each request is tagged as its own job group in
  * the Spark UI.
  *
  * Safety: table names resolve through an allowlist (never into
  * paths), field names resolve as Column references against the
  * schema (never spliced into SQL text), store endpoints only touch
  * the configured `storeRoot`, and import sources must live under
  * `dataDir` or `storeRoot`. Binds loopback-only unless `bindAll`.
  */
object WarehouseServer {

  /** `requestTimeoutMs = 0` disables the per-request deadline; any
    * positive value arms a watchdog that cancels the request's Spark
    * job group (current AND not-yet-submitted jobs) at the deadline
    * and answers 504 — so one runaway query cannot pin executor slots
    * past the client's patience.
    *
    * `dedupIndexRoot` points `POST /dedup/check` at a PERSISTED band
    * index ([[graft.dedup.Dedup.commitBandIndex]] over the documents
    * corpus); absent, the endpoint answers 404. `annMaxK` caps the
    * neighbor count a search request may ask for.
    *
    * `annVecStoreRoot` points `POST /ann/search` at a versioned
    * snapshot store of (vec_id, embedding) rows — the corpus store the
    * continuous vector-ingest sink (st0c) appends keepers to — instead
    * of the static embeddings parquet. Either way the cached index
    * auto-rebuilds when its source's freshness stamp moves (manifest
    * file number / parquet listing signature), and `POST /ann/refresh`
    * forces a rebuild for operators.
    *
    * `vecIndexRoot` points `POST /dedup/check_vec` at a PERSISTED
    * vector band index (built with `Dedup.commitVecIndex`, the q6d
    * ingest read path); the posted embedding is screened against it
    * read-only, re-scored exactly against the `annVecStoreRoot`
    * corpus store — both roots must be set for the endpoint (404
    * otherwise).
    *
    * `authToken`, when set, requires `Authorization: Bearer <token>`
    * on every request from a NON-loopback remote (the only way to
    * reach the server is `bindAll = true`, which is what the token
    * exists to make deployable); loopback requests stay unauthenticated
    * so local operations keep working. Compare is constant-time.
    * CAVEAT: any local proxy or tunnel in front of the server (nginx,
    * an SSH forward, a port-forward) makes ALL external traffic
    * originate from loopback and thereby silently disables the token
    * check — set `authOnLoopback = true` for such deployments, which
    * requires the bearer token on every request regardless of the
    * remote address.
    *
    * `keystorePath`/`keystorePass` switch the server to HTTPS (JDK
    * `HttpsServer`, zero added dependencies): a PKCS12 keystore
    * holding the server's key+cert (`keytool -genkeypair -storetype
    * PKCS12 …`), TLS on every connection. Without it a non-loopback
    * bind sends the bearer token in cleartext — set both for any
    * `bindAll` deployment that isn't behind a TLS-terminating
    * ingress. Loopback-only default deployments can stay plain HTTP.
    */
  final case class Config(
      dataDir: String,
      port: Int = 0,
      storeRoot: Option[String] = None,
      maxRows: Int = 100000,
      defaultLimit: Int = 1000,
      maxBodyBytes: Int = 10 << 20,
      threads: Int = 8,
      bindAll: Boolean = false,
      requestTimeoutMs: Long = 0L,
      dedupIndexRoot: Option[String] = None,
      annMaxK: Int = 1000,
      annVecStoreRoot: Option[String] = None,
      annWarmRoot: Option[String] = None,
      vecIndexRoot: Option[String] = None,
      authToken: Option[String] = None,
      authOnLoopback: Boolean = false,
      keystorePath: Option[String] = None,
      keystorePass: Option[String] = None)

  /** The bearer-auth verdict for one request: `None` = allowed,
    * `Some(message)` = refuse with 401. Token unset → everything
    * passes (the loopback-only default deployment). Token set →
    * loopback remotes still pass (local ops) unless
    * `requireOnLoopback` — the switch for TLS-terminating-proxy /
    * tunnel deployments where every external request arrives FROM
    * loopback; any other remote must
    * present exactly `Authorization: Bearer <token>`; the comparison
    * is constant-time (`MessageDigest.isEqual`) so the token cannot
    * be probed byte-by-byte through response timing. A null remote
    * (no address — cannot prove loopback) is treated as non-loopback.
    */
  private[graft] def authError(
      remote: java.net.InetAddress,
      header: Option[String],
      token: Option[String],
      requireOnLoopback: Boolean = false): Option[String] =
    token match {
      case Some(t) if requireOnLoopback || remote == null || !remote.isLoopbackAddress =>
        val ok = header.exists { h =>
          h.startsWith("Bearer ") && java.security.MessageDigest.isEqual(
            h.drop("Bearer ".length).getBytes(UTF_8), t.getBytes(UTF_8))
        }
        if (ok) None
        else Some("missing or invalid bearer token " +
          "(send 'Authorization: Bearer <token>'; non-loopback requests require it)")
      case _ => None
    }

  /** A started server; `port` is the bound port (useful with port=0). */
  final class Running private[WarehouseServer] (
      server: HttpServer,
      pool: java.util.concurrent.ExecutorService,
      watchdog: Option[java.util.concurrent.ScheduledExecutorService],
      cancelActive: () => Unit,
      closeAnn: () => Unit) extends AutoCloseable {
    def port: Int = server.getAddress.getPort
    override def close(): Unit = {
      server.stop(0)
      pool.shutdownNow()
      // interrupting a handler blocked in collect() does NOT cancel
      // its submitted Spark jobs — without this, an in-flight query's
      // jobs would orphan past shutdown, pinning executor slots on a
      // shared cluster session until they finish for a discarded result
      cancelActive()
      // release the ANN index's persisted corpus/banded frames: each
      // served-then-closed instance (test suites, rolling restarts on
      // a shared long-lived session) would otherwise leak two cache
      // entries until the session dies
      closeAnn()
      watchdog.foreach(_.shutdownNow())
    }
  }

  /** Queryable tables — an ALLOWLIST, so a request can never turn a
    * table name into a filesystem path of its choosing.
    */
  private val tableNames: Set[String] = Set(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (!tableNames(name))
      throw new IllegalArgumentException(
        s"unknown table '$name' (one of: ${tableNames.toSeq.sorted.mkString(", ")})")
    if (name == "events") Tables.events(spark, dir) else Tables.load(spark, dir, name)
  }

  // ------------------------------------------------------------ JSON

  /** Commit/excise provenance from a request body: the optional
    * string-valued `meta` object, with per-key typed 400s.
    */
  private def parseMetaObject(spec: JValue): Map[String, String] = spec \ "meta" match {
    case JObject(fields) => fields.map {
      case (k, JString(mv)) => k -> mv
      case (k, other) => throw HttpError(400,
        s"meta value for '$k' must be a string, got $other")
    }.toMap
    case JNothing => Map.empty
    case other => throw HttpError(400, s"meta must be a string-valued object, got $other")
  }

  /** A provenance map rendered key-sorted — the one JSON form every
    * meta-bearing response uses.
    */
  private def metaJson(meta: Map[String, String]): JObject =
    JObject(meta.toList.sortBy(_._1).map { case (k, v) => k -> (JString(v): JValue) })

  /** A near-dup verdict row of [[graft.dedup.Dedup]]'s ingest as
    * JSON, its `keep`, `dup_of` and `n_matches` read by name.
    */
  private def verdictJson(v: Row): JObject =
    JObject(List("keep", "dup_of", "n_matches").map(c => c -> jval(v.getAs[Any](c))))

  /** Row values → JSON. Non-finite doubles are JSON-illegal, so they
    * travel as strings ("NaN"/"Infinity") rather than breaking the
    * document; binary is base64.
    */
  private def jval(v: Any): JValue = v match {
    case null                 => JNull
    case s: String            => JString(s)
    case b: Boolean           => JBool(b)
    case i: Int               => JInt(i)
    case l: Long              => JInt(l)
    case s: Short             => JInt(s.toInt)
    case b: Byte              => JInt(b.toInt)
    case d: Double            => if (d.isNaN || d.isInfinite) JString(d.toString) else JDouble(d)
    case f: Float             => jval(f.toDouble)
    case d: java.math.BigDecimal => JDecimal(BigDecimal(d))
    case d: BigDecimal        => JDecimal(d)
    // an unambiguous INSTANT (ISO-8601, Z) — Timestamp.toString is a
    // zone-less wall-clock in the JVM default zone, which shifts on
    // any box whose JVM zone differs from the session zone (the same
    // ambiguity the cursor path avoids with epoch micros)
    case t: java.sql.Timestamp => JString(t.toInstant.toString)
    case d: java.sql.Date     => JString(d.toString)
    case t: java.time.Instant => JString(t.toString)
    case d: java.time.LocalDate => JString(d.toString)
    case t: java.time.LocalDateTime => JString(t.toString)
    case b: Array[Byte]       => JString(java.util.Base64.getEncoder.encodeToString(b))
    case a: Array[_]          => JArray(a.map(jval).toList)
    case s: scala.collection.Seq[_] => JArray(s.map(jval).toList)
    case m: scala.collection.Map[_, _] =>
      JObject(m.map { case (k, mv) => k.toString -> jval(mv) }.toList)
    case r: Row =>
      JObject(r.schema.fieldNames.zip(r.toSeq).map { case (n, rv) => n -> jval(rv) }.toList)
    case other => JString(other.toString)
  }

  // ------------------------------------------------- keyset pagination

  /** The sort-key columns of a result with their directions
    * (name, ascending), read off the ANALYZED plan's top-level global
    * Sort — the library's own query definitions declare their order
    * there (the oracle contract requires a total ORDER BY), so the
    * server never guesses a key. Only plain column references over
    * atomic comparable types in Spark's DEFAULT null placement
    * qualify — ascending nulls-first or descending nulls-last, the
    * two shapes `orderBy(col)` / `orderBy(col.desc)` produce and the
    * keyset predicate below can reproduce ("latest first" listings
    * page like any other); anything fancier (explicit non-default
    * null placement, expressions, arrays, binary) falls back to
    * first-page-only.
    */
  private[graft] def keysetCols(df: DataFrame): Option[Seq[(String, Boolean)]] = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, Descending, NullsFirst, NullsLast, SortOrder}
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    import org.apache.spark.sql.types._
    def atomic(dt: DataType): Boolean = dt match {
      case _: StringType | _: NumericType | BooleanType | DateType | TimestampType |
           TimestampNTZType => true
      case _ => false
    }
    df.queryExecution.analyzed match {
      case s: Sort if s.global =>
        val names = s.order.map {
          case SortOrder(a: AttributeReference, Ascending, NullsFirst, _) if atomic(a.dataType) =>
            Some((a.name, true))
          case SortOrder(a: AttributeReference, Descending, NullsLast, _) if atomic(a.dataType) =>
            Some((a.name, false))
          case _ => None
        }
        if (names.nonEmpty && names.forall(_.isDefined)) Some(names.map(_.get).toSeq) else None
      case _ => None
    }
  }

  /** Opaque page cursor: `{"k": ["name:a"|"name:d", …], "v": [values]}`
    * as base64url JSON — the key VALUES of the last delivered row plus
    * the sort keys and directions they were minted under.
    * Self-describing to the server only — clients treat it as a token
    * from `next_after`.
    *
    * The mint-time keys ride along so the decode side can verify the
    * cursor matches the result it is replayed against: a desc-minted
    * cursor replayed on the same endpoint WITHOUT `order=desc` would
    * otherwise build the ascending predicate over the same values and
    * 200 a silently wrong page — the exact failure class every other
    * cursor validation here turns into a 400.
    *
    * One value deviates from [[jval]]: `java.sql.Timestamp.toString`
    * renders a ZONE-LESS wall-clock in the JVM default timezone, but
    * the decode side casts in `spark.sql.session.timeZone` — on a
    * box where the two differ, a string round-trip would shift the
    * resume point by the zone offset (and DST-ambiguous local times
    * mis-resume even when they match). Timestamps therefore travel
    * as epoch MICROS, which name an instant unambiguously. (Instant
    * carries its Z suffix and LocalDateTime/LocalDate are zone-free
    * by definition — their ISO strings are already safe.)
    */
  private[graft] def cursorOf(row: Row, keys: Seq[(String, Boolean)]): String = {
    def cval(v: Any): JValue = v match {
      case t: java.sql.Timestamp =>
        val i = t.toInstant
        JInt(BigInt(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)))
      case other => jval(other)
    }
    val tagged = keys.map { case (n, asc) => JString(s"$n:${if (asc) "a" else "d"}"): JValue }
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(
      JsonMethods.compact(JsonMethods.render(JObject(
        "k" -> JArray(tagged.toList),
        "v" -> JArray(keys.map { case (n, _) => cval(row.getAs[Any](n)) }.toList))))
        .getBytes(UTF_8))
  }

  /** Strict lexicographic "row comes after cursor" over the sort
    * keys, honoring each key's direction: ascending keys use Spark's
    * nulls-first order (a null cursor value means "past the null
    * prefix": col IS NOT NULL; strictly-after is `col > v`),
    * descending keys its nulls-last order (strictly-after is
    * `col < v OR col IS NULL` — nulls are the desc tail; after a null
    * cursor value nothing within the key remains, only ties
    * continuing into later keys). Built from plain Column comparisons
    * so Catalyst pushes it through the Sort into the scan — page N
    * prunes at the source instead of re-reading and skipping N-1
    * pages, which is what makes deep pagination viable over
    * warehouse-sized results.
    */
  private[graft] def afterPredicate(
      df: DataFrame, keys: Seq[(String, Boolean)], cursor: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit, timestamp_micros}
    import org.apache.spark.sql.types._
    val decoded =
      try JsonMethods.parse(
        new String(java.util.Base64.getUrlDecoder.decode(cursor), UTF_8),
        // without this, exact JDecimal cursor values (decimal sort
        // keys) would parse back as JDouble and round the page
        // boundary to double precision — silently duplicating or
        // dropping rows between the true and rounded values
        useBigDecimalForDouble = true)
      catch { case NonFatal(_) => throw HttpError(400, "bad 'after' cursor (use next_after verbatim)") }
    // the cursor must have been minted under EXACTLY this result's
    // sort keys and directions — a desc-minted cursor replayed on an
    // ascending listing (or a cursor from a different endpoint) is a
    // 400, never a silently different resume point
    val mintedKeys = decoded \ "k" match {
      case JArray(ks) => ks.map {
        case JString(s) if s.endsWith(":a") => (s.dropRight(2), true)
        case JString(s) if s.endsWith(":d") => (s.dropRight(2), false)
        case _ => throw HttpError(400, "bad 'after' cursor (use next_after verbatim)")
      }
      case _ => throw HttpError(400, "bad 'after' cursor (use next_after verbatim)")
    }
    if (mintedKeys != keys) {
      def show(ks: Seq[(String, Boolean)]) =
        ks.map { case (n, a) => s"$n ${if (a) "asc" else "desc"}" }.mkString(", ")
      throw HttpError(400, s"'after' cursor was minted under sort (${show(mintedKeys)}) " +
        s"but this result sorts by (${show(keys)}) — request the same ordering, " +
        "or start from the first page")
    }
    val vals = decoded \ "v" match {
      case JArray(vs) if vs.length == keys.length => vs
      case _ => throw HttpError(400,
        s"'after' cursor does not match this result's ${keys.length} sort key(s)")
    }
    // STRICT per-type decode: each key accepts exactly the JSON shape
    // cursorOf mints for its column type, range-checked — a crafted
    // or corrupted cursor must be a 400, never a silently wrong page
    // (BigInt.toLong wraps past Long range; a fractional value cast
    // onto an integer key truncates — both would resume elsewhere).
    val parts = keys.zip(vals).map { case ((k, asc), v) =>
      val c = col(k)
      def bad(): Nothing =
        throw HttpError(400, s"cursor value ${JsonMethods.compact(JsonMethods.render(v))} " +
          s"does not fit sort key '$k' (${df.schema(k).dataType.simpleString})")
      def intIn(lo: BigInt, hi: BigInt): Long = v match {
        case JInt(i) if i >= lo && i <= hi => i.toLong
        case _ => bad()
      }
      // null boundary: ascending nulls-first → everything non-null is
      // strictly after; descending nulls-last → nulls END the key's
      // order, nothing is strictly after (ties continue to later keys)
      if (v == JNull) (if (asc) c.isNotNull else lit(false), c.isNull)
      else {
        val l: org.apache.spark.sql.Column = df.schema(k).dataType match {
          case ByteType    => lit(intIn(Byte.MinValue, Byte.MaxValue).toByte)
          case ShortType   => lit(intIn(Short.MinValue, Short.MaxValue).toShort)
          case IntegerType => lit(intIn(Int.MinValue, Int.MaxValue).toInt)
          case LongType    => lit(intIn(Long.MinValue, Long.MaxValue))
          // finite-only on the numeric branches: an out-of-range
          // JDecimal would silently become ±Infinity (the float
          // analogue of the integer wrap) — genuine non-finite
          // cursors only ever travel as the three JString forms
          case FloatType => v match {
            case JDecimal(d) if d.toFloat.isFinite => lit(d.toFloat)
            case JDouble(d) if d.toFloat.isFinite  => lit(d.toFloat)
            case JString(s @ ("NaN" | "Infinity" | "-Infinity")) => lit(s.toFloat)
            case _ => bad()
          }
          case DoubleType => v match {
            case JDecimal(d) if d.toDouble.isFinite => lit(d.toDouble)
            case JDouble(d) if d.isFinite           => lit(d)
            case JString(s @ ("NaN" | "Infinity" | "-Infinity")) => lit(s.toDouble)
            case _ => bad()
          }
          // decimals are scale/precision-checked DRIVER-side: a value
          // past the column's domain must be the contract 400, not an
          // ANSI NUMERIC_VALUE_OUT_OF_RANGE 500 at execution time
          case dt: DecimalType =>
            val bd = v match {
              case JDecimal(d) => d.underlying
              case JInt(i)     => new java.math.BigDecimal(i.underlying)
              case _ => bad()
            }
            val fitted =
              try bd.setScale(dt.scale, java.math.RoundingMode.UNNECESSARY)
              catch { case _: ArithmeticException => bad() }
            if (fitted.precision > dt.precision) bad()
            lit(fitted).cast(dt)
          case BooleanType => v match { case JBool(b) => lit(b); case _ => bad() }
          case StringType  => v match { case JString(s) => lit(s); case _ => bad() }
          // temporal strings are parsed DRIVER-side and rebuilt as
          // typed literals — a string cast would defer validation to
          // execution, where ANSI mode turns a junk cursor into a 500
          // (and non-ANSI into a silent null boundary). LocalDate and
          // LocalDateTime ISO strings are zone-free by definition.
          case DateType => v match {
            case JString(s) =>
              lit(try java.time.LocalDate.parse(s)
                  catch { case _: java.time.format.DateTimeParseException => bad() })
            case _ => bad()
          }
          case TimestampNTZType => v match {
            case JString(s) =>
              lit(try java.time.LocalDateTime.parse(s)
                  catch { case _: java.time.format.DateTimeParseException => bad() })
            case _ => bad()
          }
          // instants travel as epoch micros (see cursorOf) — rebuild
          // via timestamp_micros, which is session-timezone-proof;
          // the Instant string form (java8 API mode) keeps its Z
          case TimestampType => v match {
            case JInt(i) if i.isValidLong => timestamp_micros(lit(i.toLong))
            case JString(s) =>
              lit(try java.time.Instant.parse(s)
                  catch { case _: java.time.format.DateTimeParseException => bad() })
            case _ => bad()
          }
          case _ => bad()
        }
        // strictly-after in this key's direction; desc must also
        // admit nulls (they sort after every value in nulls-last)
        (if (asc) c > l else (c < l) || c.isNull, c <=> l)
      }
    }
    parts.indices.map { i =>
      parts.take(i).map(_._2).foldRight(parts(i)._1)(_ && _)
    }.reduce(_ || _)
  }

  /** Bounded row page: fetches limit+1 to detect truncation. When the
    * result carries a keyset-able total order, a truncated page also
    * carries `next_after` — pass it back as `?after=` to continue
    * exactly where this page stopped (no overlap, no gap, no offset
    * re-scan). `after` on a result with no such order is a 400, not a
    * silent wrong page.
    */
  private[graft] def page(df: DataFrame, limit: Int, after: Option[String] = None): JValue = {
    val keys = keysetCols(df)
    val filtered = after match {
      case None => df
      case Some(cur) =>
        val ks = keys.getOrElse(throw HttpError(400,
          "this result has no keyset-able total sort order — 'after' pagination not supported"))
        df.filter(afterPredicate(df, ks, cur))
    }
    val taken = filtered.limit(limit + 1).collect()
    var rows = taken.take(limit)
    val truncated = taken.length > limit
    // Boundary-tie enforcement: the strict "after cursor" predicate is
    // only exact when the sort keys are a TOTAL order — a page boundary
    // inside a tie group would make the next page silently skip the
    // tied rows. The limit+1 fetch hands us the first UNDELIVERED row,
    // so the failure is detectable exactly: trim the trailing rows
    // tied with it (the next page re-reads the whole group — no
    // overlap, no gap), and when the ENTIRE page is one tie group, no
    // resumable boundary exists — say so instead of minting a cursor
    // that skips. The page itself still returns (previews keep
    // working); only the cursor is withheld, loudly.
    var nextAfter: Option[String] = None
    var tieNote: Option[String] = None
    keys.foreach { ks =>
      if (truncated) {
        val names = ks.map(_._1)
        def kv(r: Row): Seq[Any] = names.map(n => r.getAs[Any](n))
        // SPARK's tie notion, not Scala's: boxed NaN != NaN under
        // cooperative equality, but Spark's ordering (and <=>) treat
        // NaN as equal-and-greatest — with bare ==, a boundary inside
        // a NaN run would trim nothing, mint a v=NaN cursor whose
        // strict predicate matches no row, and SILENTLY lose every
        // remaining NaN row (the exact no-overlap-no-gap violation
        // this block exists to prevent)
        def keyEq(a: Any, b: Any): Boolean = (a, b) match {
          case (x: java.lang.Double, y: java.lang.Double) =>
            (x.isNaN && y.isNaN) || x == y
          case (x: java.lang.Float, y: java.lang.Float) =>
            (x.isNaN && y.isNaN) || x == y
          case _ => a == b
        }
        def tied(a: Seq[Any], b: Seq[Any]): Boolean =
          a.length == b.length && a.lazyZip(b).forall(keyEq)
        val boundary = kv(taken(limit))
        val cut = rows.lastIndexWhere(r => !tied(kv(r), boundary))
        if (cut < 0)
          tieNote = Some(s"page boundary falls inside a sort-key tie group wider than the page " +
            s"(keys: ${names.mkString(", ")} are not a total order here) — raise 'limit' or " +
            "refine the query's ORDER BY to a unique key")
        else {
          rows = rows.take(cut + 1)
          nextAfter = Some(cursorOf(rows.last, ks))
        }
      }
    }
    val base =
      ("columns" -> df.columns.toList) ~
        ("rows" -> JArray(rows.map(jval).toList)) ~
        ("row_count" -> rows.length) ~
        ("truncated" -> truncated)
    (nextAfter, tieNote) match {
      case (Some(cur), _) => base ~ ("next_after" -> cur)
      case (_, Some(note)) => base ~ ("next_after_unavailable" -> note)
      case _ => base
    }
  }

  private final case class HttpError(code: Int, msg: String)
    extends RuntimeException(msg)

  // -------------------------------------------------------- requests

  private def queryParams(ex: HttpExchange): Map[String, String] = {
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    q.split('&').iterator.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      if (i < 0) URLDecoder.decode(kv, UTF_8) -> ""
      else URLDecoder.decode(kv.take(i), UTF_8) -> URLDecoder.decode(kv.drop(i + 1), UTF_8)
    }.toMap
  }

  /** One endpoint, declared once: its verb, its path, its service-doc
    * entry (`rel` plus `params`/`body`; an empty `rel` leaves it out of
    * the document, which does not list itself) and its handler.
    * `/queries/{name}` is the only templated path: a `{…}` last segment
    * matches one non-empty segment, handed to the handler as `Req.arg`.
    */
  private final case class Route(method: String, path: String, rel: String,
      params: String = "", body: String = "")(val handler: Req => JValue) {
    private val prefix = if (path.endsWith("}")) path.take(path.lastIndexOf('/') + 1) else ""

    /** The templated segment when `p` is this route's path ("" for a plain path). */
    def arg(p: String): Option[String] =
      if (prefix.isEmpty) (if (p == path) Some("") else None)
      else if (p.length > prefix.length && p.startsWith(prefix) &&
          p.indexOf('/', prefix.length) < 0) Some(p.drop(prefix.length))
      else None
  }

  /** A routed request as its handler sees it: the query params, the
    * page bound, and `arg`, the templated path segment. The body is
    * read on demand, capped at `maxBytes`; an empty one is a 400.
    */
  private final class Req(ex: HttpExchange, maxBytes: Int,
      val params: Map[String, String], limit: Int, val arg: String) {
    def body: String = {
      val in = ex.getRequestBody
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) {
        buf.write(chunk, 0, n)
        if (buf.size > maxBytes) throw HttpError(413, s"request body exceeds $maxBytes bytes")
        n = in.read(chunk)
      }
      val text = new String(buf.toByteArray, UTF_8)
      // every body is a JSON document or the cohort DSL: an empty one
      // is the client's omission, not a parser fault to echo back
      if (text.trim.isEmpty) throw HttpError(400, "request body is empty")
      text
    }

    def json: JValue = JsonMethods.parse(body)

    def need(key: String): String =
      params.getOrElse(key, throw HttpError(400, s"missing query param '$key'"))

    /** The merge key columns a store read names (`keys`, required). */
    def keys: Seq[String] = params.get("keys").map(_.split(',').toSeq)
      .getOrElse(throw HttpError(400, "missing query param 'keys' (comma-separated)"))

    def page(df: DataFrame): JValue = WarehouseServer.page(df, limit, params.get("after"))
  }

  /** A merge read this store cannot answer (no full snapshot under the
    * pin, a segment lacking a merge key) is the client's addressing
    * error on THIS store: 400, not a server fault.
    */
  private def mergeRead[T](read: => T): T =
    try read
    catch {
      case e: IllegalStateException if Option(e.getMessage).exists(m =>
          m.contains("no full snapshot") || m.contains("lacks merge key")) =>
        throw HttpError(400, e.getMessage)
    }

  private def limitOf(params: Map[String, String], cfg: Config): Int =
    params.get("limit") match {
      case None => cfg.defaultLimit
      // the Int.MaxValue-1 cap keeps page()'s limit+1 truncation probe
      // from wrapping negative when an operator "uncaps" maxRows and a
      // client sends limit=2147483647 (a contractually valid request
      // that would otherwise die on Dataset.limit(Int.MinValue))
      case Some(s) => s.toIntOption match {
        case Some(l) if l > 0 => math.min(l, math.min(cfg.maxRows, Int.MaxValue - 1))
        case _ => throw HttpError(400, s"bad limit '$s'")
      }
    }

  /** Import sources must live under dataDir or storeRoot — the server
    * never reads a path a request invents.
    */
  private def checkUnder(path: String, roots: Seq[String]): String = {
    val p = Paths.get(path).toAbsolutePath.normalize
    val ok = roots.exists(r => p.startsWith(Paths.get(r).toAbsolutePath.normalize))
    if (!ok) throw HttpError(403, s"path must be under ${roots.mkString(" or ")}")
    p.toString
  }

  // --------------------------------------------------------- routing

  private val reqIds = new AtomicLong(0L)

  def start(spark: SparkSession, cfg: Config): Running = {
    val addr = new InetSocketAddress(
      if (cfg.bindAll) new InetSocketAddress(cfg.port).getAddress
      else InetAddress.getLoopbackAddress,
      cfg.port)
    // TCP_NODELAY on accepted connections. The JDK server writes a
    // response's headers and its body in two writes; under Nagle the
    // body waits for the client's ACK of the headers, which Linux
    // delays by ~40 ms, so every response took ≥ 44 ms on loopback.
    // The JDK reads this property once, when the first server of the
    // process is created; an operator's own setting wins.
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")
    val server = cfg.keystorePath match {
      case Some(ksPath) =>
        // TLS termination in-process: PKCS12 keystore → KeyManager →
        // SSLContext → HttpsServer. HttpsServer IS an HttpServer, so
        // everything downstream (routing, watchdog, shutdown) is
        // transport-agnostic.
        val pass = cfg.keystorePass.getOrElse(throw new IllegalArgumentException(
          "keystorePath is set but keystorePass is not — the PKCS12 store needs its password"))
          .toCharArray
        val ks = java.security.KeyStore.getInstance("PKCS12")
        val in = java.nio.file.Files.newInputStream(Paths.get(ksPath))
        try ks.load(in, pass) finally in.close()
        val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
          javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
        kmf.init(ks, pass)
        val ssl = javax.net.ssl.SSLContext.getInstance("TLS")
        ssl.init(kmf.getKeyManagers, null, null)
        val s = HttpsServer.create(addr, 0)
        s.setHttpsConfigurator(new HttpsConfigurator(ssl))
        s
      case None => HttpServer.create(addr, 0)
    }
    val pool = Executors.newFixedThreadPool(cfg.threads)
    server.setExecutor(pool)
    // one shared watchdog thread arms all request deadlines; the
    // handler threads stay dedicated to requests
    val watchdog =
      if (cfg.requestTimeoutMs > 0)
        Some(Executors.newSingleThreadScheduledExecutor { r =>
          val t = new Thread(r, "graft-serve-watchdog"); t.setDaemon(true); t
        })
      else None

    def respond(ex: HttpExchange, code: Int, v: JValue): Unit = {
      val bytes = JsonMethods.compact(JsonMethods.render(v)).getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json; charset=utf-8")
      ex.sendResponseHeaders(code, bytes.length.toLong)
      val out = ex.getResponseBody
      try out.write(bytes) finally out.close()
    }

    def storeRoot: String =
      cfg.storeRoot.getOrElse(throw HttpError(404, "no store configured (Config.storeRoot)"))

    // the version an `as_of_ts` addresses (an ISO-8601 instant or epoch
    // milliseconds): the latest commit stamped at or before it
    def versionAtTs(raw: String): Long = {
      val ms =
        if (raw.nonEmpty && raw.forall(_.isDigit)) raw.toLong
        else
          try java.time.Instant.parse(raw).toEpochMilli
          catch {
            case _: java.time.format.DateTimeParseException => throw HttpError(400,
              s"bad as_of_ts '$raw' — pass an ISO-8601 instant (2026-08-15T12:00:00Z) " +
                "or epoch milliseconds")
          }
      Snapshots.versionAt(spark, storeRoot, ms)
    }

    // Instant-addressed cohort queries: `as_of_ts` swaps the `orders`
    // source for the configured store's as-of read (keyed o_orderkey,
    // the store's import shape), so the whole cohort evaluation is
    // "as of instant t" — the reference's implicit immutable-store
    // property, addressed by wall time. Other sources stay live.
    // ...and the db.with twin: `speculative_import` (a staged parquet
    // path under the allowed roots) swaps `orders` for the store's
    // merged view AS IF that batch were committed (Snapshots
    // .withBatch — nothing is written or published), so an operator
    // previews an import's effect on cohort counts BEFORE committing.
    // `speculative_evolve=true` opts the preview into schema
    // evolution, mirroring /store/commit's `evolve`. Mutually
    // exclusive with `as_of_ts`: a what-if overlays the PRESENT.
    // ...and `tag=` is the NAMED as-of: cohort counts "as of
    // release-2026-08" resolve the tag to its version and read the
    // store there — same mutual exclusion as the other two pins.
    def cohortSources(params: Map[String, String]): graft.operators.CohortQuery.SourceOverrides =
      (params.get("as_of_ts"), params.get("speculative_import"), params.get("tag")) match {
        case (a, s, t) if Seq(a, s, t).count(_.isDefined) > 1 =>
          throw HttpError(400,
            "pass at most one of 'as_of_ts', 'speculative_import', 'tag'")
        case (Some(raw), None, None) =>
          Map("orders" -> Snapshots.asOf(spark, storeRoot, versionAtTs(raw), Seq("o_orderkey")))
        case (None, None, Some(t)) =>
          Map("orders" -> Snapshots.asOfTag(spark, storeRoot, t, Seq("o_orderkey")))
        case (None, Some(src), None) =>
          val evolve = params.get("speculative_evolve") match {
            case None          => false
            case Some("true")  => true
            case Some("false") => false
            case Some(other)   => throw HttpError(400,
              s"speculative_evolve must be true|false, got '$other'")
          }
          val batch =
            Sources.readParquet(spark, checkUnder(src, cfg.dataDir +: cfg.storeRoot.toSeq))
          val view =
            try Snapshots.withBatch(spark, storeRoot, batch, Seq("o_orderkey"), evolve)
            catch {
              case e: IllegalArgumentException =>
                throw HttpError(400, Option(e.getMessage).getOrElse("bad speculative batch")
                  .replace("pass evolveSchema = true",
                    "pass speculative_evolve=true"))
            }
          Map("orders" -> view)
        case _ => Map.empty
      }

    // ------------------------------------------- maintained cohort state
    //
    // `maintained=true` on /cohort/atom-counts answers per-atom counts
    // over the STORE's merged view from a cached sparse state that
    // advances O(import batch) per commit (CohortQuery.atomState /
    // applyBatchToAtomState) — the reference's headline per-criterion
    // counts, kept fresh without re-scanning the store. The cache is
    // keyed by the normalized spec AND the manifest lines it was built
    // over: appended delta lines ADVANCE the state (one before-image
    // semi-join + batch-sized work each); an appended full (compact)
    // rebuilds from that full alone; anything that rewrites history —
    // excision, vacuum trims — fails the prefix check and rebuilds,
    // so a takedown can never keep serving from a pre-excision state.
    // One slot: the operational shape is ONE standing dashboard spec;
    // a different spec displaces the old state (logged on /status).
    final case class CohortState(
        specKey: String, lines: Seq[(Long, String, String)], state: DataFrame,
        nAtoms: Int, builtAtVersion: Long, appliedBatches: Long)
    val cohortStateRef = new java.util.concurrent.atomic.AtomicReference[CohortState](null)
    val cohortLock = new Object
    // set under cohortLock by Running.close(): a request already queued
    // on the lock when the server closes must not persist and publish a
    // fresh state AFTER the close hook released the old one (the same
    // post-close leak the annClosed flag exists for)
    var cohortClosed = false

    def maintainedAtomCounts(bodyStr: String): DataFrame = cohortLock.synchronized {
      if (cohortClosed) throw HttpError(503, "server is shutting down")
      val root = cfg.storeRoot.getOrElse(throw HttpError(400,
        "maintained atom counts answer over the snapshot store — this server has none configured"))
      val (subjectName, preds) = CohortQuery.maintainedSpec(bodyStr)
      val specKey = JsonMethods.compact(JsonMethods.parse(bodyStr))
      val ms = Snapshots.manifestState(spark, root)
      if (ms.lines.isEmpty) throw HttpError(404, "the store is empty — commit before querying it")
      // the maintained path is hard-wired to the orders import shape
      // (o_orderkey merge key, subject/visit keys): a server whose
      // store is some other table must get a typed refusal, not an
      // UNRESOLVED_COLUMN analysis error (or silent wrong counts)
      val chainCols = Snapshots.chainSchema(spark, root).map(_.name).toSet
      val needCols = Seq("o_orderkey", subjectName).distinct
      val missing = needCols.filterNot(chainCols)
      if (missing.nonEmpty) throw HttpError(400,
        s"maintained atom counts need an orders-shaped store (merge key o_orderkey); " +
          s"the configured store lacks column(s) ${missing.mkString(", ")}")
      import org.apache.spark.sql.functions.col
      val subject = col(subjectName)
      val lines = ms.lines.map(l => (l.v, l.kind, l.rel))
      val keys = Seq("o_orderkey")
      def materialize(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }
      def fullContent(v: Long): DataFrame =
        Snapshots.normDeleted(Snapshots.read(spark, root, v))
          .filter(!col("_deleted")).drop("_deleted")
      def build(): CohortState = {
        val tip = lines.last._1
        CohortState(specKey, lines,
          materialize(CohortQuery.atomState(
            Snapshots.asOf(spark, root, tip, keys), subject, preds)),
          preds.size, tip, 0L)
      }
      val cached = cohortStateRef.get
      val next =
        if (cached == null || cached.specKey != specKey || !lines.startsWith(cached.lines)) {
          if (cached != null) cached.state.unpersist()
          cohortStateRef.set(null) // a failed build below must not leave a dangling ref
          build()
        } else if (lines.size == cached.lines.size) cached
        else {
          var st = cached.state
          var builtAt = cached.builtAtVersion
          var applied = cached.appliedBatches
          var prevV = cached.lines.last._1
          // exception safety: a mid-advance failure (executor loss, a
          // racing vacuum deleting a segment under us) must unpersist
          // whatever this loop materialized and drop the slot — the
          // next request rebuilds cleanly instead of advancing a
          // half-unpersisted lineage, and nothing stays cached forever
          try {
            lines.drop(cached.lines.size).foreach { case (v, kind, _) =>
              if (kind == "full") {
                // a full RESTATES the merged view (and may retract keys
                // no delta named): the state after it is the full's own
                // content — a REBUILD, so the incrementality evidence
                // resets exactly as /status documents
                val ns = materialize(CohortQuery.atomState(fullContent(v), subject, preds))
                st.unpersist(); st = ns
                builtAt = v; applied = 0L
              } else {
                val ns = materialize(CohortQuery.applyBatchToAtomState(st,
                  Snapshots.asOf(spark, root, prevV, keys),
                  Snapshots.read(spark, root, v), keys, subject, preds))
                st.unpersist(); st = ns
                applied += 1
              }
              prevV = v
            }
          } catch {
            case e: Throwable =>
              try { st.unpersist(); () }
              catch { case scala.util.control.NonFatal(_) => () }
              cohortStateRef.set(null)
              throw e
          }
          CohortState(specKey, lines, st, preds.size, builtAt, applied)
        }
      cohortStateRef.set(next)
      CohortQuery.presentAtomCounts(spark, next.state, next.nAtoms)
    }

    // ------------------------------------------------------- tokenizer
    //
    // POST /tokenize serves q8e's BPE encode as a bounded control-plane
    // call: texts in, token strings + ids out. The merge table is
    // learned from the corpus once per n_merges (ONE q8d Spark job,
    // then cached) — or supplied verbatim in the body; the encode
    // itself runs DRIVER-SIDE through the same TextExprHelpers
    // .bpeEncode the codegen'd expression calls, so a tokenize request
    // costs zero Spark jobs after the table is warm. Token ids are
    // deterministic from the table alone: a single-code-point token's
    // id is its code point; a merged token's id is 0x110000 + merge
    // rank (above the Unicode range, so the two spaces never collide).
    // Cached WITH the corpus listing signature it was learned from —
    // the same freshness discipline the ANN index applies: a
    // regenerated documents parquet must relearn, never keep serving
    // merges of a corpus that no longer exists.
    val bpeTables =
      new java.util.concurrent.ConcurrentHashMap[Int, (String, Seq[(String, String)])]()

    // the ANN serving index: built once per SOURCE VERSION on demand
    // (one corpus scan + one banding pass), then every request is a
    // freshness-stamp read (driver-side listing, no Spark job) + a
    // driver-side bucket computation + a pruned probe of the cached
    // keys — never a per-request re-band of the corpus. When the
    // source moves (a delta committed through the st0c store, a
    // regenerated parquet), the FIRST search after it pays the rebuild
    // in-request — the documented trade-off that keeps neighbors fresh
    // without a background thread; operators who want to pay it at a
    // chosen moment POST /ann/refresh. The lock makes a request
    // stampede (and refresh-vs-search races) build exactly once.
    val annSource: AnnServing.Source = cfg.annVecStoreRoot match {
      case Some(r) => AnnServing.StoreSource(r)
      case None    => AnnServing.ParquetSource(cfg.dataDir)
    }
    val annRef = new java.util.concurrent.atomic.AtomicReference[AnnServing](null)
    val annLock = new Object
    // flipped under annLock by Running.close(): a rebuild racing
    // shutdown must not publish a fresh instance AFTER the close hook
    // released the old one — that instance's two persisted frames
    // would leak for the shared session's lifetime (close waits on
    // the lock for any in-progress rebuild, then sees its result)
    var annClosed = false
    // an index-build failure is a SERVER-side fault (empty/corrupt
    // store, no scorable rows — nothing the client posted): 503, never
    // the IllegalArgumentException→400 request-validation mapping.
    // Same mapping for the freshness-stamp read — BOTH reads, the
    // fast-path one and the under-lock double-check, or the identical
    // store fault would blame the client as a 400 depending on which
    // read it happened to hit.
    def annVersion(): String =
      try annSource.version(spark)
      catch {
        case NonFatal(e) => throw HttpError(503,
          s"ann index source unavailable: ${Option(e.getMessage).getOrElse(e.toString)}")
      }
    def annBuild(build: => AnnServing): AnnServing =
      try build
      catch {
        case NonFatal(e) => throw HttpError(503,
          s"ann index build failed (server-side, not your request): " +
            s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
      }
    def annSwap(cur: AnnServing): AnnServing = {
      if (annClosed) throw HttpError(503, "server is shutting down")
      val built = annBuild(AnnServing.build(spark, annSource, cfg.annWarmRoot))
      annRef.set(built)
      if (cur != null) cur.close()
      built
    }
    // serve-while-rebuilding: once an index EXISTS, a moved source
    // stamp no longer makes the next search pay the rebuild inline —
    // it answers from the previous index (the response's
    // `index_version` lets a client detect the staleness) while ONE
    // background build runs (CAS-guarded, so a request stampede on a
    // fresh commit starts exactly one). The swap happens under
    // annLock; a build that loses to shutdown releases its own frames
    // instead of publishing. A FAILED background build just clears the
    // flag — the next stale-stamp search kicks a fresh attempt, and
    // the old index keeps answering throughout (no 503 window).
    // `/ann/refresh` keeps the synchronous path for operators who want
    // the rebuild paid at a chosen moment and the NEW index returned.
    // ladder slots carry a last-use stamp for the LRU cap below
    final case class AltSlot(idx: AnnServing, lastUse: java.util.concurrent.atomic.AtomicLong)
    val annAlt = new java.util.concurrent.ConcurrentHashMap[Int, AltSlot]()
    // at most this many LIVE ladder indexes at one stamp: each slot
    // pins two corpus-sized persisted frames, and the [1,128] request
    // validation bounds one request, not the ACCUMULATION — a client
    // sweeping distinct tables values would otherwise build dozens of
    // concurrent indexes and exhaust executor storage. Evicting LRU
    // is benign: a re-request just rebuilds the rung.
    val annAltCap = 4
    // evict EVERY alt slot whose stamp is not `v` (caller holds
    // annLock): stale ladder indexes pin two corpus-sized persisted
    // frames each, and without a sweep a slot is only ever revisited
    // by a request for its exact tables count — a recall audit over a
    // continuously-ingesting source would otherwise accrete one dead
    // index per rung until shutdown
    def annAltSweep(v: String): Unit = {
      val it = annAlt.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue.idx.sourceVersion != v) { e.getValue.idx.close(); it.remove() }
      }
    }
    def annRefresh(): (Option[String], AnnServing) = annLock.synchronized {
      val old = Option(annRef.get)
      val built = annSwap(old.orNull)
      // a refresh means the operator believes the source moved: drop
      // every ladder slot built against older stamps now rather than
      // when (if ever) its tables count is re-requested
      annAltSweep(built.sourceVersion)
      (old.map(_.sourceVersion), built)
    }
    // Recall-ladder slots: a search that passes `tables` serves from
    // an index built at THAT tables count, cached per tables value
    // and stamped like the default slot (a moved source rebuilds it).
    // This is the measured tables-vs-recall ladder (PLANS.md) exposed
    // at query time: a deployment buys candidate recall for one
    // request class without re-pinning the operator stack or paying a
    // rebuild per request. Builds are inline under annLock (an
    // operator/recall-audit path — the serve-while-rebuild machinery
    // stays on the default slot) and deliberately skip the warm-start
    // image, which records only the default geometry.
    val annRebuilding = new java.util.concurrent.atomic.AtomicBoolean(false)
    def annKickRebuild(): Unit = {
      // the instance whose staleness triggered this kick: the swap
      // below is a CAS against it, so a NEWER index published while
      // we built (a synchronous /ann/refresh, or the inline first
      // build after a close) is never replaced by our now-older
      // result — stamps are opaque listing signatures with no order,
      // so "same reference we found stale" is the only sound
      // supersession test. Losing the CAS just drops this build; the
      // next stale-stamp search re-kicks against the new reference.
      val basis = annRef.get
      if (basis != null && annRebuilding.compareAndSet(false, true)) {
        val t = new Thread(() => {
          try {
            val built =
              try AnnServing.build(spark, annSource, cfg.annWarmRoot)
              catch { case NonFatal(_) => null } // next stale search retries
            if (built != null) annLock.synchronized {
              if (annClosed) built.close()
              else if (annRef.compareAndSet(basis, built)) {
                basis.close()
                // the swap proves the source moved: ladder slots built
                // against older stamps are dead now — close them here
                // rather than waiting for a request that may never
                // re-ask for their exact tables count
                annAltSweep(built.sourceVersion)
              }
              else built.close() // superseded while building: keep the newer index
            }
          } finally annRebuilding.set(false)
        }, "graft-ann-rebuild")
        t.setDaemon(true)
        t.start()
      }
    }
    def annIndex(): AnnServing = {
      val cur = annRef.get
      val v = annVersion()
      if (cur != null && cur.sourceVersion == v) cur
      else if (cur != null) { annKickRebuild(); cur } // stale: serve old, rebuild behind
      else annLock.synchronized {
        // no index yet: there is nothing to serve stale, so the first
        // request pays the build inline (double-check — a refresh or a
        // racing first request may have built while this one waited)
        val cur2 = annRef.get
        if (cur2 != null) cur2
        else annSwap(null)
      }
    }
    def annIndexAt(tables: Int): AnnServing = {
      val v = annVersion()
      // the default slot already serves this tables count at the
      // current stamp: reuse it (never a duplicate corpus persist) —
      // and close a now-shadowed alt slot for the same count, which
      // no future request could ever reach through this fast path.
      // The containsKey probe keeps the common case LOCK-FREE: taking
      // annLock just to check would park a ready default-slot answer
      // behind a rival rung's minutes-long inline build.
      val dflt = annRef.get
      if (dflt != null && dflt.sourceVersion == v && dflt.geometry.tables == tables) {
        if (annAlt.containsKey(tables)) annLock.synchronized {
          Option(annAlt.remove(tables)).foreach(_.idx.close())
        }
        dflt
      } else annLock.synchronized {
        if (annClosed) throw HttpError(503, "server is shutting down")
        val v2 = annVersion()
        annAltSweep(v2)
        val cur = annAlt.get(tables)
        if (cur != null) {
          cur.lastUse.set(System.nanoTime())
          cur.idx // fresh: the sweep just removed every stale slot
        } else {
          val built = annBuild(AnnServing.buildWithTables(spark, annSource, tables))
          // LRU cap on live same-stamp slots (see annAltCap)
          while (annAlt.size() >= annAltCap) {
            import scala.jdk.CollectionConverters._
            val (lruK, lruS) = annAlt.entrySet().asScala
              .minBy(_.getValue.lastUse.get()) match { case e => (e.getKey, e.getValue) }
            annAlt.remove(lruK)
            lruS.idx.close()
          }
          annAlt.put(tables,
            AltSlot(built, new java.util.concurrent.atomic.AtomicLong(System.nanoTime())))
          built
        }
      }
    }

    // static per dataDir: computed once, not ten parquet footer reads
    // + analysis passes per hit on the discovery endpoint (the natural
    // FIRST call of every client session)
    lazy val tablesDoc: JValue =
      JArray(tableNames.toList.sorted.map { t =>
        ("name" -> t) ~
          ("columns" -> table(spark, cfg.dataDir, t).schema.fields.map { f =>
            ("name" -> f.name) ~ ("type" -> f.dataType.simpleString): JValue
          }.toList)
      })

    // in-flight request job groups, for shutdown cancellation
    val active = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

    // control-plane observability (served by GET /status): per-endpoint
    // request counts / error counts / latency sums, keyed by a BOUNDED
    // set of keys — "<method> <route path>", with a method no route uses
    // and a path no route matches each pooled under "(other)", so
    // neither made-up verbs nor unknown-path probing can grow the map
    val startedAtMs = System.currentTimeMillis()
    val stats = new java.util.concurrent.ConcurrentHashMap[String, EndpointStat]()

    // One declaration per endpoint: dispatch, the 405/404 split, the
    // service document's links and the /status keys all read this
    // table (see Route). Lazy, like serviceDoc: each reads the other.
    lazy val routes: Seq[Route] = Seq(
      Route("GET", "/", "")(_ => serviceDoc),
      Route("GET", "/health", "health") { _ =>
        ("status" -> "ok") ~
          ("spark_version" -> spark.version) ~
          ("app_id" -> spark.sparkContext.applicationId) ~
          ("default_parallelism" -> spark.sparkContext.defaultParallelism)
      },
      Route("GET", "/status", "observability: per-endpoint counts/latency, ann index, " +
        "store tip, cohort images and prepared shapes") { _ =>
        // control-plane observability, all driver-side reads: the
        // only I/O is one manifest listing when a store is
        // configured — safe to poll from a monitoring loop
        import scala.jdk.CollectionConverters._
        val endpoints = JObject(stats.asScala.toList.sortBy(_._1).map { case (k, s) =>
          k -> (("count" -> s.count.get) ~ ("errors" -> s.errors.get) ~
            ("total_ms" -> s.totalMs.get): JValue)
        })
        val ann: JValue = Option(annRef.get) match {
          case None => JNull
          case Some(a) =>
            ("index_version" -> a.sourceVersion) ~
              ("age_ms" -> (System.currentTimeMillis() - a.builtAtMs)) ~
              ("rebuilding" -> annRebuilding.get) ~
              // live recall-ladder slots (each pins two corpus-sized
              // cached frames; LRU-capped) — the operational check
              // that a tables sweep isn't holding memory
              ("ladder_slots" -> annAlt.size())
        }
        val store: JValue = cfg.storeRoot match {
          case None => JNull
          case Some(r) =>
            val ms = Snapshots.manifestState(spark, r)
            ("tip_version" -> ms.lines.lastOption.map(_.v)) ~
              ("manifest_file" -> ms.fileNum) ~
              // the tip commit's provenance (who/which job/why) —
              // answered from the manifest line, no data read
              ("tip_meta" -> ms.lines.lastOption.map(l => metaJson(l.meta)))
        }
        val cohort: JValue = Option(cohortStateRef.get) match {
          case None => JNull
          case Some(cs) =>
            // the incrementality evidence: built_at_version is where
            // the full build happened; applied_batches counts the
            // O(delta) advances since (a rebuild resets it to 0)
            ("atoms" -> cs.nAtoms) ~
              ("version" -> cs.lines.last._1) ~
              ("built_at_version" -> cs.builtAtVersion) ~
              ("applied_batches" -> cs.appliedBatches)
        }
        // the cohort path's cached source images (session-scoped:
        // they outlive this server and serve the next one)
        val images = JArray(CohortQuery.imageInfo(spark, cfg.dataDir).toList.map { i =>
          ("population" -> i.population) ~ ("source" -> i.source) ~
            ("partitions" -> i.partitions) ~ ("cached_bytes" -> i.cachedBytes): JValue
        })
        // the served counts' prepared query shapes (session-scoped
        // like the images): how many are held, reused and planned
        val prepared = CohortQuery.preparedInfo(spark, cfg.dataDir)
        ("uptime_ms" -> (System.currentTimeMillis() - startedAtMs)) ~
          ("active_job_groups" -> JArray(active.asScala.toList.sorted.map(JString(_)))) ~
          ("endpoints" -> endpoints) ~
          ("ann" -> ann) ~
          ("store" -> store) ~
          ("cohort_state" -> cohort) ~
          ("cohort_images" -> images) ~
          ("cohort_prepared" -> (("shapes" -> prepared.shapes) ~ ("hits" -> prepared.hits) ~
            ("prepares" -> prepared.prepares)))
      },
      Route("GET", "/tables", "tables")(_ => tablesDoc),
      Route("POST", "/cohort/query", "cohort-count",
        params = "as_of_ts?, tag?, speculative_import?, speculative_evolve?",
        body = "cohort DSL (see README)") { req =>
        JObject("n_subjects" -> JInt(CohortQuery.populationSize(spark, cfg.dataDir,
          req.body, cohortSources(req.params))))
      },
      Route("POST", "/cohort/population", "cohort-population", params = "limit, after") { req =>
        req.page(CohortQuery.population(spark, cfg.dataDir, req.body,
          cohortSources(req.params)).orderBy("subject"))
      },
      Route("POST", "/cohort/atom-counts", "per-criterion counts",
        params = "maintained? (store-fed atoms answered O(import batch) from cached state)",
        body = "{population, atoms:[...]}") { req =>
        req.params.get("maintained") match {
          case Some("true") =>
            if (req.params.contains("as_of_ts") || req.params.contains("speculative_import")
                || req.params.contains("tag"))
              throw HttpError(400,
                "maintained counts are the store's PRESENT — drop as_of_ts/speculative_import/tag")
            req.page(maintainedAtomCounts(req.body))
          case None | Some("false") =>
            req.page(CohortQuery.atomCounts(spark, cfg.dataDir, req.body,
              cohortSources(req.params)))
          case Some(other) =>
            throw HttpError(400, s"maintained must be true|false, got '$other'")
        }
      },
      Route("GET", "/tables/profile", "per-column census",
        params = "source, cols?, exact?") { req =>
        // q9h over HTTP: per-column census of an allowlisted table —
        // a control-plane aggregate whose output is bounded by the
        // column count. `cols` defaults to the whole table;
        // `exact=false` serves the 1%-HLL form (the scale default
        // for wide tables — the exact multi-distinct Expand
        // multiplies the scan by the column count)
        val src = table(spark, cfg.dataDir, req.need("source"))
        val cols = req.params.get("cols")
          .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
          .getOrElse(src.columns.toSeq)
        val exact = req.params.get("exact").forall {
          case "true" => true
          case "false" => false
          case other => throw HttpError(400, s"exact must be true|false, got '$other'")
        }
        req.page(graft.operators.Warehouse.profile(src, cols, exact))
      },
      Route("GET", "/items/stats", "item-statistics", params = "source, field, by?") { req =>
        req.page(Cohort.itemStats(
          table(spark, cfg.dataDir, req.need("source")),
          req.need("field"), req.params.get("by")))
      },
      Route("GET", "/items/histogram", "item-histogram", params = "source, field, width") { req =>
        val width = req.need("width").toDoubleOption
          .getOrElse(throw HttpError(400, "bad width"))
        req.page(Cohort.itemHistogram(
          table(spark, cfg.dataDir, req.need("source")),
          req.need("field"), width))
      },
      Route("GET", "/items/frequencies", "value-frequencies", params = "source, field") { req =>
        req.page(Cohort.valueFrequencies(
          table(spark, cfg.dataDir, req.need("source")),
          req.need("field")))
      },
      Route("GET", "/metadata/search", "metadata-search", params = "q | regex") { req =>
        req.page(Cohort.metadataSearch(
          Tables.part(spark, cfg.dataDir), req.params.get("q"), req.params.get("regex")))
      },
      Route("GET", "/queries", "named queries") { _ =>
        JArray(SparkEntry.defs.map { q =>
          ("name" -> q.name) ~ ("oracle_checked" -> q.oracle.nonEmpty): JValue
        }.toList)
      },
      Route("POST", "/queries/{name}", "run named query", params = "limit, after") { req =>
        val q = SparkEntry.defs.find(_.name == req.arg)
          .getOrElse(throw HttpError(404, s"unknown query '${req.arg}'"))
        req.page(q.run(spark, cfg.dataDir))
      },
      Route("GET", "/store/versions", "store versions") { _ =>
        JArray(Snapshots.manifestState(spark, storeRoot).lines.map { l =>
          val base = ("version" -> l.v) ~ ("kind" -> l.kind) ~ ("path" -> l.rel)
          // commit_ts is omitted (not null) on lines that predate the
          // timestamp field — "unknown", not "at the epoch"; meta is
          // omitted when the commit carried none
          val stamped =
            if (l.ts >= 0) base ~ ("commit_ts" -> java.time.Instant.ofEpochMilli(l.ts).toString)
            else base
          (if (l.meta.nonEmpty) stamped ~ ("meta" -> metaJson(l.meta))
           else stamped): JValue
        }.toList)
      },
      Route("GET", "/store/read", "versioned read",
        params = "keys, version?, as_of_ts?, tag?, limit, after") { req =>
        val keys = req.keys
        // `as_of_ts` = ISO-8601 instant or epoch millis — the
        // instant-addressed twin of `version` (Snapshots.versionAt
        // semantics: latest commit stamped at or before it)
        if (Seq("version", "as_of_ts", "tag").count(req.params.contains) > 1)
          throw HttpError(400, "pass at most one of 'version', 'as_of_ts', 'tag'")
        val df = (req.params.get("version"), req.params.get("as_of_ts"), req.params.get("tag")) match {
          case (Some(v), _, _) => Snapshots.asOf(spark, storeRoot,
            v.toLongOption.getOrElse(throw HttpError(400, s"bad version '$v'")), keys)
          case (_, Some(raw), _) =>
            Snapshots.asOf(spark, storeRoot, versionAtTs(raw), keys)
          // tag = the named as-of: an unknown tag is the library's
          // typed error listing what exists (→ 400 via the global map)
          case (_, _, Some(t)) => Snapshots.asOfTag(spark, storeRoot, t, keys)
          case _ => Snapshots.latest(spark, storeRoot, keys)
        }
        // `order=desc` = "latest keys first", the most common
        // warehouse listing order — keyset-paged like asc, through
        // the same per-key-direction cursors
        val orderOf: String => org.apache.spark.sql.Column =
          req.params.getOrElse("order", "asc") match {
            case "asc"  => c => org.apache.spark.sql.functions.col(c).asc
            case "desc" => c => org.apache.spark.sql.functions.col(c).desc
            case other  => throw HttpError(400, s"order must be asc|desc, got '$other'")
          }
        req.page(df.orderBy(keys.map(orderOf): _*))
      },
      Route("GET", "/store/read_range", "zone-map range read (append-only; keys= for merge stores)",
        params = "column, lo, hi, keys?, limit, after") { req =>
        // zone-map range read over an APPEND-ONLY store: opens only
        // the segments whose committed stats intersect [lo, hi]
        // (Snapshots.readAppendOnlyWhere) — the time-series "last
        // hour" listing that skips the months behind it. Bounds
        // parse long → double → string, matching the sidecar's
        // recorded type loudly (a mismatch is a 400, not a silent
        // no-prune).
        val column = req.need("column")
        val (loRaw, hiRaw) = (req.need("lo"), req.need("hi"))
        val bounds: (Any, Any) = (loRaw.toLongOption, hiRaw.toLongOption) match {
          case (Some(l), Some(h)) => (l, h)
          case _ => (loRaw.toDoubleOption, hiRaw.toDoubleOption) match {
            case (Some(l), Some(h)) => (l, h)
            case _ => (loRaw, hiRaw)
          }
        }
        // `keys=` switches to the MERGE-read range form
        // (Snapshots.readMergeWhere): last-writer-wins + tombstones
        // honored, segments pruned on the range column's zone map —
        // which must be one of the merge keys (the only column
        // class whose stats soundly bound where a superseding row
        // lives). Without keys, the append-only form as before.
        // unknown column surfaces as AnalysisException, mismatched
        // bound types / empty store / non-key column as
        // IllegalArgumentException (both 400s via the global map)
        val df = try req.params.get("keys") match {
            case Some(ks) => Snapshots.readMergeWhere(
              spark, storeRoot, ks.split(',').toSeq, column, bounds._1, bounds._2)
            case None => Snapshots.readAppendOnlyWhere(
              spark, storeRoot, column, bounds._1, bounds._2)
          }
          catch {
            // pointing the append-only form at a merge-read store
            // (tombstoned segments) is a client-addressable misuse —
            // 409 with the remedy this route actually offers.
            // Matched on the tombstone guard's message: other
            // IllegalStateExceptions (malformed manifest, race) are
            // server faults, 500
            case e: IllegalStateException
              if Option(e.getMessage).exists(_.startsWith("append-only read")) =>
              throw HttpError(409, e.getMessage +
                "; or pass keys=<merge keys> for a pruned merge-range read")
          }
        req.page(df.orderBy(column))
      },
      Route("GET", "/store/read_eq", "bloom-pruned point lookup (merged read of the probed keys)",
        params = "column, values, keys, limit, after") { req =>
        // bloom-pruned POINT LOOKUP over the merge-read store
        // (Snapshots.readMergeEq): "fetch these entities now" — the
        // merged state of the probed keys, opening only segments
        // whose key sidecars (zone map, then bloom) might hold one.
        // `keys` is REQUIRED: the eq form exists for merge stores
        // (an append-only store answers point probes through
        // read_range's lo=hi). Values parse long-else-string as one
        // homogeneous batch — a mixed or mistyped probe surfaces in
        // the zone-map check's loud type error (→ 400).
        val column = req.need("column")
        val keys = req.keys
        val raws = req.need("values").split(',').toSeq.filter(_.nonEmpty)
        if (raws.isEmpty) throw HttpError(400, "values must carry at least one probe")
        // the endpoint is a point lookup, not a bulk export: an
        // unbounded IN list builds an unbounded driver-side plan
        // (and probes every bloom per value) — bound it loudly
        if (raws.size > 1024)
          throw HttpError(400, s"too many probe values (${raws.size} > 1024) — " +
            "batch point lookups, or use read_range for a bulk slice")
        val values: Seq[Any] =
          if (raws.forall(_.toLongOption.isDefined)) raws.map(_.toLong)
          else raws
        val df = mergeRead(Snapshots.readMergeEq(spark, storeRoot, keys, column, values))
        req.page(df.orderBy(column))
      },
      Route("GET", "/store/changes", "version-pair CDC feed (what did imports from..to do)",
        params = "keys, from, to?, limit, after") { req =>
        // version-pair CDC over HTTP (Snapshots.changes): "what did
        // the imports between v_from and v_to do", keyset-paged.
        // `to` defaults to the tip so "changes since v" is one call.
        val keys = req.keys
        val fromV = req.need("from").toLongOption
          .getOrElse(throw HttpError(400, s"bad from '${req.params("from")}'"))
        val toV = req.params.get("to") match {
          case None => Snapshots.latestVersion(spark, storeRoot)
          case Some(v) => v.toLongOption.getOrElse(throw HttpError(400, s"bad to '$v'"))
        }
        val df = mergeRead(Snapshots.changes(spark, storeRoot, fromV, toV, keys))
        req.page(df.orderBy(keys.map(k =>
          org.apache.spark.sql.functions.col(k).asc): _*))
      },
      Route("GET", "/store/history", "per-entity timeline (insert/update/delete per version)",
        params = "keys, key?, limit, after") { req =>
        // per-entity timeline (Snapshots.history): one chain read
        // giving (version, commit_ts_ms, op, key..., payload...)
        // per state change — the Datomic history read that
        // previously took a client-side loop over versions. `key=`
        // narrows to ONE entity (comma-separated values matched
        // positionally against `keys`); equality literals are typed
        // from the result schema so the filter pushes into every
        // segment scan instead of casting the column.
        import org.apache.spark.sql.functions.{col, lit}
        import org.apache.spark.sql.types.{IntegerType, LongType, ShortType, DoubleType, FloatType}
        val keys = req.keys
        val df0 = mergeRead(Snapshots.history(spark, storeRoot, keys))
        val df = req.params.get("key") match {
          case None => df0
          case Some(raw) =>
            val vals = raw.split(',').toSeq
            if (vals.size != keys.size) throw HttpError(400,
              s"'key' carries ${vals.size} value(s) for ${keys.size} key column(s)")
            keys.zip(vals).foldLeft(df0) { case (d, (k, v)) =>
              val typed = d.schema.find(_.name == k).map(_.dataType) match {
                case Some(LongType | IntegerType | ShortType) =>
                  lit(v.toLongOption.getOrElse(throw HttpError(400,
                    s"key value '$v' is not integral for column '$k'")))
                case Some(DoubleType | FloatType) =>
                  lit(v.toDoubleOption.getOrElse(throw HttpError(400,
                    s"key value '$v' is not numeric for column '$k'")))
                case _ => lit(v)
              }
              d.filter(col(k) === typed)
            }
        }
        req.page(df.orderBy(keys.map(k => col(k).asc) :+ col("version").asc: _*))
      },
      Route("POST", "/tokenize",
        "BPE tokenize (corpus-learned or supplied merge table; ids = code point | 0x110000+rank)",
        body = "{texts: [...], n_merges? | merges?: [[l,r],...]}") { req =>
        val spec = req.json
        val texts = spec \ "texts" match {
          case JArray(ts) if ts.nonEmpty => ts.map {
            case JString(t) => t
            case other => throw HttpError(400, s"texts must be strings, got $other")
          }
          case JArray(_) | JNothing =>
            throw HttpError(400, "tokenize needs a non-empty 'texts' array")
          case other => throw HttpError(400, s"texts must be an array, got $other")
        }
        if (texts.size > cfg.defaultLimit)
          throw HttpError(400,
            s"tokenize is a bounded control-plane call: at most ${cfg.defaultLimit} " +
              s"texts per request, got ${texts.size}")
        val merges: Seq[(String, String)] = spec \ "merges" match {
          case JArray(ms) => ms.map {
            case JArray(List(JString(l), JString(r))) if l.nonEmpty && r.nonEmpty => (l, r)
            case other => throw HttpError(400,
              s"each merge must be a [left, right] pair of non-empty strings, got $other")
          }
          case JNothing =>
            val n = spec \ "n_merges" match {
              case JNothing => 30
              case JInt(i) if i >= 1 && i <= 1000 => i.toInt
              case other => throw HttpError(400,
                s"n_merges must be an integer in [1, 1000], got $other")
            }
            // driver-side listing only — the freshness check itself
            // costs no Spark job; a stale entry relearns in-request
            val srcSig = Sources.listingSignature(
              spark, s"${cfg.dataDir}/documents.parquet")
            bpeTables.compute(n, (nn, cur) =>
              if (cur != null && cur._1 == srcSig) cur
              else (srcSig, graft.operators.TextAnalysis
                .bpeMerges(Tables.documents(spark, cfg.dataDir), nn)
                .map { case (l, r, _) => (l, r) }))._2
          case other => throw HttpError(400, s"merges must be an array of pairs, got $other")
        }
        // a corpus too small/uniform to learn a single merge has no
        // tokenizer to serve — loud, with both remedies named
        if (merges.isEmpty) throw HttpError(400,
          "no merge table: the corpus learned zero merges — pass 'merges' explicitly " +
            "or raise n_merges after committing documents")
        // the EXACT map the codegen'd expression builds (duplicate
        // pairs keep their first rank), driving the same encoder
        val ranks = new java.util.HashMap[String, Integer](merges.size * 2)
        merges.zipWithIndex.foreach { case ((l, r), i) =>
          ranks.putIfAbsent(l + " " + r, Int.box(i)); ()
        }
        val outRank = new java.util.HashMap[String, Integer](merges.size * 2)
        merges.zipWithIndex.foreach { case ((l, r), i) =>
          outRank.putIfAbsent(l + r, Int.box(i)); ()
        }
        def idOf(tok: String): Long =
          if (tok.codePointCount(0, tok.length) == 1) tok.codePointAt(0).toLong
          else Option(outRank.get(tok)).map(0x110000L + _.longValue())
            .getOrElse(-1L) // unreachable for well-formed tables; never a 500
        val results = texts.map { t =>
          val arr = graft.functions.TextExprHelpers.bpeEncode(
            org.apache.spark.unsafe.types.UTF8String.fromString(t), ranks)
          val toks = (0 until arr.numElements())
            .map(i => arr.getUTF8String(i).toString).toList
          (("tokens" -> JArray(toks.map(JString(_)))) ~
            ("ids" -> JArray(toks.map(tk => JLong(idOf(tk)))))): JValue
        }
        ("n_merges_used" -> merges.size) ~ ("results" -> JArray(results))
      },
      Route("POST", "/ann/search", "similarity-search",
        body = "{vector: [...], k?, method?: lsh|brute, tables?}") { req =>
        val spec = req.json
        val vector = spec \ "vector" match {
          case JArray(vs) => vs.map {
            case JInt(i)     => i.toDouble
            case JDouble(d)  => d
            case JDecimal(d) => d.toDouble
            case other => throw HttpError(400, s"vector elements must be numbers, got $other")
          }
          case _ => throw HttpError(400, "search needs a 'vector' array")
        }
        val k = spec \ "k" match {
          case JInt(i) if i > 0 && i <= cfg.annMaxK => i.toInt
          case JNothing => 10
          case other => throw HttpError(400,
            s"k must be an integer in [1, ${cfg.annMaxK}], got $other")
        }
        val method = spec \ "method" match {
          case JString(m @ ("lsh" | "brute")) => m
          case JNothing => "lsh"
          case other => throw HttpError(400, s"method must be lsh|brute, got $other")
        }
        // the recall ladder's knob: serve this request from an index
        // banded at `tables` tables (capped — each slot persists a
        // corpus-sized banding; 128 is far past the measured
        // full-recall point and a typo'd 10_000 must not OOM the
        // server). Meaningless for brute (exact already): loud 400.
        val tablesOpt = spec \ "tables" match {
          case JInt(t) if t >= 1 && t <= 128 => Some(t.toInt)
          case JNothing => None
          case other => throw HttpError(400,
            s"tables must be an integer in [1, 128] (the lsh recall ladder's knob), got $other")
        }
        if (tablesOpt.isDefined && method == "brute")
          throw HttpError(400, "tables applies to method=lsh only — brute is already exact")
        // ONE index resolution per request (freshness check + maybe
        // rebuild happen here, as 503s); a bad vector (dims
        // mismatch, NaN, zero norm) then throws
        // IllegalArgumentException → the 400 mapping below
        val idx = tablesOpt.fold(annIndex())(annIndexAt)
        val neighbors = idx.search(vector, k, method)
        val g = idx.geometry
        ("k" -> k) ~ ("method" -> method) ~
          ("index_version" -> idx.sourceVersion) ~
          ("geometry" ->
            (("tables" -> g.tables) ~ ("planes" -> g.planes) ~ ("probe1" -> g.probe1))) ~
          ("neighbors" -> JArray(neighbors.map { case (id, cos) =>
            ("vec_id" -> JInt(id)) ~ ("cos" -> jval(cos)): JValue
          }.toList))
      },
      Route("POST", "/ann/refresh", "rebuild similarity index") { _ =>
        val (oldV, built) = annRefresh()
        ("rebuilt" -> true) ~
          ("index_version" -> built.sourceVersion) ~
          ("previous_version" -> oldV)
      },
      Route("POST", "/dedup/check", "near-dup verdict", body = "{text, min_jaccard?}") { req =>
        val idxRoot = cfg.dedupIndexRoot.getOrElse(throw HttpError(404,
          "no dedup band index configured (Config.dedupIndexRoot)"))
        val spec = req.json
        val text = spec \ "text" match {
          case JString(t) => t
          case other => throw HttpError(400, s"check needs a 'text' string, got $other")
        }
        // floor 0.8: the persisted index's BANDING is fixed at build
        // time for the ≥0.8 operating point — candidate recall below
        // it is near zero, so accepting a lower threshold would
        // answer confidently-wrong keep=true for pairs the bands
        // never surface. Honest 400 instead. (JInt admits the
        // integer literal 1, which json4s parses as JInt, not
        // JDouble.)
        val minJ = spec \ "min_jaccard" match {
          case JDouble(d) if d >= 0.8 && d <= 1  => d
          case JDecimal(d) if d >= 0.8 && d <= 1 => d.toDouble
          case JInt(i) if i == 1 => 1.0
          case JNothing => 0.8
          case other => throw HttpError(400,
            s"min_jaccard must be in [0.8, 1] — the persisted index's banding is built " +
              s"for the 0.8 operating point and cannot surface candidates below it; got $other")
        }
        // READ-ONLY screen of one posted doc against the persisted
        // band index — the q6b ingest path's candidate+verify stages
        // with a 1-row broadcast batch and a synthetic id that can
        // never collide with corpus doc_ids. Nothing is committed.
        // Per-request cost = one index-key scan + one candidate-
        // bounded corpus join, exactly q6b's per-INGEST steady-state
        // cost, always against the freshest committed index (a
        // server-cached snapshot would answer stale verdicts after
        // every delta commit; freshness wins for a dedup gate).
        import spark.implicits._
        val batch = Seq((-1L, text)).toDF("doc_id", "text")
        val corpus = Tables.documents(spark, cfg.dataDir)
        val v = graft.dedup.Dedup.ingestAgainstIndex(batch, corpus, idxRoot, minJ)
          .collect().head // exactly one verdict row for the 1-row batch
        verdictJson(v) ~ ("min_jaccard" -> minJ)
      },
      Route("POST", "/dedup/check_vec", "vector near-dup verdict",
        body = "{embedding: [...]}") { req =>
        val idxRoot = cfg.vecIndexRoot.getOrElse(throw HttpError(404,
          "no vector band index configured (Config.vecIndexRoot)"))
        val corpusRoot = cfg.annVecStoreRoot.getOrElse(throw HttpError(404,
          "no vector corpus store configured (Config.annVecStoreRoot)"))
        val spec = req.json
        val emb: Seq[Float] = spec \ "embedding" match {
          case JArray(vs) if vs.nonEmpty => vs.map {
            case JInt(i)     => i.toFloat
            case JDouble(d)  => d.toFloat
            case JDecimal(d) => d.toFloat
            case other => throw HttpError(400, s"embedding elements must be numbers, got $other")
          }
          case JArray(_) => throw HttpError(400, "embedding must be non-empty")
          case other => throw HttpError(400, s"check_vec needs an 'embedding' array, got $other")
        }
        // opening the index resolves it (404 when none committed) —
        // geometry and segments from ONE manifest read; the posted
        // vector must be scorable IN that geometry — a
        // dims mismatch would silently bucket garbage, and a
        // zero/NaN/Inf norm is the library's un-scorable class
        // (cosine NULL, keep-by-default) which for a CHECK endpoint
        // is a vacuous always-keep: refuse both as typed 400s
        val index =
          try graft.dedup.Dedup.openVecIndex(spark, idxRoot)
          catch {
            case e: IllegalArgumentException =>
              throw HttpError(404, Option(e.getMessage).getOrElse("no vector index"))
          }
        val g = index._1
        if (emb.size != g.dims)
          throw HttpError(400,
            s"embedding has ${emb.size} dims but the index is built for ${g.dims}")
        val nrm = math.sqrt(emb.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
        if (nrm == 0.0 || nrm.isNaN || nrm.isInfinite || emb.exists(x => x.isNaN || x.isInfinite))
          throw HttpError(400,
            "embedding is un-scorable (zero, NaN or infinite norm) — cosine is undefined " +
              "for it, so a near-dup verdict would be vacuous")
        // READ-ONLY screen of one posted vector — the q6d ingest
        // path's candidate+re-score stages with a 1-row broadcast
        // batch and a synthetic id that can never collide with
        // corpus vec_ids. Nothing commits; always the freshest
        // committed index + corpus (srv11's freshness-over-caching
        // trade, same rationale).
        import spark.implicits._
        val batch = Seq((-1L, emb)).toDF("vec_id", "embedding")
        // an empty/missing corpus store is SERVER state, not a bad
        // request — 404 like the missing index, never the generic
        // IllegalArgumentException→400 mapping blaming the client
        val corpus =
          try Snapshots.readAppendOnly(spark, corpusRoot)
          catch {
            case e: IllegalArgumentException =>
              throw HttpError(404, Option(e.getMessage).getOrElse("empty vector corpus store"))
          }
        val v = graft.dedup.Dedup.ingestWith(batch, corpus, index)
          .collect().head // exactly one verdict row for the 1-row batch
        verdictJson(v) ~ ("tau" -> g.tau)
      },
      Route("POST", "/store/commit", "import",
        body = "{source, mode: full|delta, evolve?, stats?, blooms?, meta?}") { req =>
        val spec = req.json
        val source = spec \ "source" match {
          case JString(s) => checkUnder(s, cfg.dataDir +: cfg.storeRoot.toSeq)
          case other => throw HttpError(400, s"commit needs a 'source' path, got $other")
        }
        val mode = spec \ "mode" match {
          case JString(m @ ("full" | "delta")) => m
          case JNothing   => "delta"
          case other      => throw HttpError(400, s"mode must be full|delta, got $other")
        }
        // schema-drift gate (Snapshots.commitDelta): a drifting
        // delta is a 400 naming the columns unless the client opts
        // into evolution explicitly
        val evolve = spec \ "evolve" match {
          case JBool(b)  => b
          case JNothing  => false
          case other     => throw HttpError(400, s"evolve must be a boolean, got $other")
        }
        def columns(field: String): Seq[String] = spec \ field match {
          case JArray(vs) => vs.map {
            case JString(c) => c
            case other => throw HttpError(400, s"$field entries must be column names, got $other")
          }
          case JNothing => Nil
          case other => throw HttpError(400, s"$field must be an array of column names, got $other")
        }
        // optional zone-map columns: min/max sidecar on the committed
        // segment (Snapshots statsCols) — feeds /store/read_range
        val stats = columns("stats")
        // optional bloom columns: point-lookup sidecar on the
        // committed segment (Snapshots bloomCols) — feeds
        // /store/read_eq's segment skip
        val blooms = columns("blooms")
        // commit provenance — free-form string facts stored on the
        // manifest line, surfaced by /store/versions and /status
        val meta: Map[String, String] = parseMetaObject(spec)
        val df = Sources.readParquet(spark, source)
        val version =
          try {
            if (mode == "full") Snapshots.commit(df, storeRoot, statsCols = stats,
              meta = meta, bloomCols = blooms)
            else Snapshots.commitDeltaRetrying(df, storeRoot,
              evolveSchema = evolve, statsCols = stats, meta = meta, bloomCols = blooms)
          } catch {
            // the library's drift error names ITS remedy (the
            // evolveSchema parameter); an HTTP client's actionable
            // remedy is this route's `evolve` body field — rewrite
            // so the 400 is actionable verbatim
            case e: IllegalArgumentException
                if Option(e.getMessage).exists(_.contains("evolveSchema = true")) =>
              throw HttpError(400, e.getMessage.replace(
                "pass evolveSchema = true",
                "pass \"evolve\": true in the request body"))
          }
        ("version" -> version) ~ ("mode" -> mode)
      },
      Route("GET", "/store/tags", "named version tags") { _ =>
        // the named-release catalog: every tag as {name, version}
        JArray(Snapshots.tags(spark, storeRoot).map { case (n, v) =>
          (("name" -> n) ~ ("version" -> v)): JValue
        }.toList)
      },
      Route("POST", "/store/tag", "name a version (immutable)", body = "{name, version}") { req =>
        // name a version ("release-2026-08" -> v12). Tags are
        // immutable: a duplicate is a 409 (the library's message
        // names the untag remedy), an unknown version / bad name a
        // 400 via the global IllegalArgumentException map
        val spec = req.json
        val name = spec \ "name" match {
          case JString(n) => n
          case other => throw HttpError(400, s"tag needs a 'name' string, got $other")
        }
        val version = spec \ "version" match {
          case JInt(v) => v.toLong
          case other => throw HttpError(400, s"tag needs an integer 'version', got $other")
        }
        try Snapshots.tag(spark, storeRoot, name, version)
        catch {
          case e: IllegalArgumentException
              if Option(e.getMessage).exists(_.contains("already exists")) =>
            throw HttpError(409, e.getMessage)
        }
        ("name" -> name) ~ ("version" -> version)
      },
      Route("POST", "/store/untag", "remove a tag", body = "{name}") { req =>
        val spec = req.json
        val name = spec \ "name" match {
          case JString(n) => n
          case other => throw HttpError(400, s"untag needs a 'name' string, got $other")
        }
        Snapshots.untag(spark, storeRoot, name)
        ("name" -> name) ~ ("removed" -> true)
      },
      Route("GET", "/store/excisions", "takedown audit trail (no excised values)") { _ =>
        // the takedown audit trail (Snapshots.excisions): proof a
        // GDPR excision ran — when, which columns, per-version row
        // counts, the operator's meta — with the excised values
        // themselves deliberately absent
        JArray(Snapshots.excisions(spark, storeRoot).map { r =>
          (("at" -> java.time.Instant.ofEpochMilli(r.atMs).toString) ~
            ("columns" -> r.columns) ~
            ("segments" -> JArray(r.segments.map { case (v, n) =>
              (("version" -> v) ~ ("rows" -> n)): JValue
            }.toList)) ~
            ("rows" -> r.rows) ~
            ("meta" -> metaJson(r.meta))): JValue
        }.toList)
      },
      Route("POST", "/store/excise", "hard delete across history (PII/GDPR takedown)",
        body = "{column, values: [...] | lo+hi, meta?}") { req =>
        // hard delete across history (Snapshots.excise): the
        // PII/GDPR takedown — rewrites every retained segment that
        // carries the named rows, so history/as-of/changes at ANY
        // version stop serving them. Body names ONE key column and
        // either the `values` to excise (identity takedown, isin)
        // or a closed `lo`/`hi` range (retention takedown); value
        // literals are typed from the chain's union schema so the
        // match (and the counting pass's pushdown and zone-map
        // skip) compares in the column's own type.
        import org.apache.spark.sql.functions.{col, lit}
        import org.apache.spark.sql.types.{IntegerType, LongType, ShortType, ByteType,
          DoubleType, FloatType, StringType, BooleanType, DecimalType, DateType, TimestampType}
        val spec = req.json
        val column = spec \ "column" match {
          case JString(c) => c
          case other => throw HttpError(400, s"excise needs a 'column' name, got $other")
        }
        def rawOf(v: JValue, what: String): String = v match {
          case JString(str) => str
          case JInt(i)      => i.toString
          case JLong(l)     => l.toString
          case JDouble(d)   => d.toString
          case other => throw HttpError(400, s"unsupported excise $what $other")
        }
        val rawVals: Option[Seq[String]] = spec \ "values" match {
          case JArray(vs) if vs.nonEmpty => Some(vs.map(rawOf(_, "value")))
          case JArray(_) => throw HttpError(400, "excise 'values' must be non-empty")
          case JNothing => None
          case other => throw HttpError(400, s"excise 'values' must be an array, got $other")
        }
        val rawRange: Option[(String, String)] = (spec \ "lo", spec \ "hi") match {
          case (JNothing, JNothing) => None
          case (lo, hi) if lo != JNothing && hi != JNothing =>
            Some((rawOf(lo, "bound"), rawOf(hi, "bound")))
          case _ => throw HttpError(400, "excise range needs BOTH 'lo' and 'hi'")
        }
        if (rawVals.isDefined == rawRange.isDefined)
          throw HttpError(400,
            "excise takes exactly one of 'values' (identity takedown) or 'lo'/'hi' (range)")
        // the column's type comes from the chain's UNION schema
        // (Snapshots.chainSchema — footer reads only): an evolved
        // chain that widened the column (int → long full
        // redefinition) resolves to the WIDE type here, so no
        // takedown value is ever narrowed/wrapped into silently
        // missing the rows it names
        val colType =
          (try Snapshots.chainSchema(spark, storeRoot)
           catch {
             case e: IllegalArgumentException =>
               throw HttpError(404, Option(e.getMessage).getOrElse("the store is empty"))
           })
            .find(_.name == column)
            .getOrElse(throw HttpError(400,
              s"no segment of the store carries column '$column'")).dataType
        // literals in the column's EXACT external type — a
        // lit(v).cast(colType) wrapper would reach conditionBounds
        // as Cast nodes and lose the zone-map segment skip
        def typed(v: String): Any = {
          def integral: Long = v.toLongOption.getOrElse(
            throw HttpError(400, s"excise value '$v' is not integral for column '$column'"))
          colType match {
            case LongType    => integral
            case IntegerType =>
              val l = integral
              if (l.isValidInt) l.toInt else throw HttpError(400,
                s"excise value '$v' overflows the store's int column '$column'")
            case ShortType   =>
              val l = integral
              if (l >= Short.MinValue && l <= Short.MaxValue) l.toShort
              else throw HttpError(400,
                s"excise value '$v' overflows the store's short column '$column'")
            case ByteType =>
              val l = integral
              if (l >= Byte.MinValue && l <= Byte.MaxValue) l.toByte
              else throw HttpError(400,
                s"excise value '$v' overflows the store's byte column '$column'")
            case DoubleType => v.toDoubleOption.getOrElse(
              throw HttpError(400, s"excise value '$v' is not numeric for column '$column'"))
            case FloatType => v.toFloatOption.getOrElse(
              throw HttpError(400, s"excise value '$v' is not numeric for column '$column'"))
            case d: DecimalType =>
              // the column's own scale, no rounding: a value with
              // more fractional digits than the column can hold
              // names rows that cannot exist — a typo, not a no-op
              try new java.math.BigDecimal(v).setScale(d.scale, java.math.RoundingMode.UNNECESSARY)
              catch {
                case _: NumberFormatException => throw HttpError(400,
                  s"excise value '$v' is not numeric for column '$column'")
                case _: ArithmeticException => throw HttpError(400,
                  s"excise value '$v' has more fractional digits than " +
                    s"decimal(${d.precision},${d.scale}) column '$column' holds")
              }
            case DateType =>
              try java.sql.Date.valueOf(v)
              catch { case _: IllegalArgumentException => throw HttpError(400,
                s"excise value '$v' is not a yyyy-mm-dd date for column '$column'") }
            case TimestampType =>
              // zone-explicit strings are honored; naive wall-clock
              // strings read in the SESSION timezone (the frame the
              // store's instants render in) — never the JVM default,
              // which would shift a GDPR takedown range by the
              // host's UTC offset
              try java.sql.Timestamp.from(
                try java.time.Instant.parse(v)
                catch {
                  case _: java.time.format.DateTimeParseException =>
                    java.time.LocalDateTime.parse(v.replace(' ', 'T'))
                      .atZone(java.time.ZoneId.of(
                        spark.conf.get("spark.sql.session.timeZone")))
                      .toInstant
                })
              catch { case _: java.time.format.DateTimeParseException => throw HttpError(400,
                s"excise value '$v' is not an ISO instant or yyyy-mm-dd hh:mm:ss[.f] " +
                  s"timestamp for column '$column'") }
            case StringType => v
            case BooleanType => throw HttpError(400,
              s"refusing a takedown keyed on boolean column '$column' — a true/false " +
                "match names half the table, not an entity; excise by a key column, " +
                "or use the library API with an explicit condition")
            // an implicit string-vs-<type> cast would wrap the
            // ATTRIBUTE, losing both the match semantics and the
            // zone-map skip — refuse instead of comparing wrong
            case other => throw HttpError(400,
              s"excise by values/range is not supported for ${other.simpleString} " +
                s"column '$column' — use the library API with an explicit condition")
          }
        }
        val condition = (rawVals, rawRange) match {
          case (Some(vs), _) => col(column).isin(vs.map(typed): _*)
          case (_, Some((lo, hi))) => col(column) >= typed(lo) && col(column) <= typed(hi)
          case _ => throw HttpError(400, "unreachable: exclusivity checked above")
        }
        // audit provenance for the takedown record (ticket id, who
        // ordered it) — free-form strings; the record never carries
        // the excised values themselves
        val exMeta: Map[String, String] = parseMetaObject(spec)
        val report =
          try Snapshots.excise(spark, storeRoot, condition, meta = exMeta)
          catch {
            // a takedown naming rows the store never held is a
            // client addressing error — surface it as not-found,
            // never a silently-recorded no-op
            case e: IllegalArgumentException
                if Option(e.getMessage).exists(_.contains("matched NO rows")) =>
              throw HttpError(404, e.getMessage)
            // a commit/compact/vacuum raced the republish: the store
            // is unchanged, the client retries over the new chain
            case e: Snapshots.ManifestRace =>
              throw HttpError(409, e.getMessage + " — retry the excision")
          }
        ("excised" -> JArray(report.map { case (v, n) =>
          (("version" -> v) ~ ("rows" -> n)): JValue
        }.toList)) ~ ("total_rows" -> report.map(_._2).sum)
      }
    )

    lazy val serviceDoc: JValue =
      ("service" -> "graft-warehouse") ~
        ("data_dir" -> cfg.dataDir) ~
        ("store_root" -> cfg.storeRoot) ~
        ("links" -> routes.filter(_.rel.nonEmpty).map { r =>
          ("href" -> r.path) ~ ("method" -> r.method) ~ ("rel" -> r.rel) ~
            ("body" -> Some(r.body).filter(_.nonEmpty)) ~
            ("params" -> Some(r.params).filter(_.nonEmpty))
        })

    // the methods some route serves; the JDK server hands the handler
    // any method token, and the others share one /status key
    val routeMethods = routes.map(_.method).toSet

    def handle(ex: HttpExchange, hits: Seq[(Route, String)]): JValue = {
      // auth gate FIRST — before any param parsing or body read, so an
      // unauthenticated remote can neither run Spark work nor probe
      // validation errors. Loopback remotes bypass unless
      // authOnLoopback (see Config's proxy caveat).
      authError(
        Option(ex.getRemoteAddress).map(_.getAddress).orNull,
        Option(ex.getRequestHeaders.getFirst("Authorization")),
        cfg.authToken,
        cfg.authOnLoopback)
        .foreach(msg => throw HttpError(401, msg))
      val params = queryParams(ex)
      val limit = limitOf(params, cfg)
      val m = ex.getRequestMethod
      hits.find(_._1.method == m) match {
        case Some((route, arg)) => route.handler(new Req(ex, cfg.maxBodyBytes, params, limit, arg))
        // known path + wrong verb is 405, not 404
        case None if hits.nonEmpty =>
          throw HttpError(405, s"method $m not supported on ${ex.getRequestURI.getPath}")
        case None => throw HttpError(404, "no such resource — GET / lists them")
      }
    }

    server.createContext("/", (ex: HttpExchange) => {
      val reqId = s"graft-serve-${reqIds.incrementAndGet()}"
      val reqStartNs = System.nanoTime()
      // the routes whose path matches, each with its templated segment
      val hits = routes.flatMap(r => r.arg(ex.getRequestURI.getPath).map(r -> _))
      active.add(reqId)
      // deadline state for THIS request: the watchdog cancels the
      // request's job group (including jobs the handler has not
      // submitted yet — a multi-job query must not outlive its
      // deadline one job at a time) and the flag turns whatever the
      // handler does next into a deterministic 504, even if a job
      // raced past the cancellation
      val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
      val deadline = watchdog.map(_.schedule(new Runnable {
        override def run(): Unit = {
          timedOut.set(true)
          spark.sparkContext.cancelJobGroupAndFutureJobs(reqId)
        }
      }, cfg.requestTimeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS))
      def timeoutPayload: (Int, JValue) =
        (504, JObject("error" -> JString(
          s"request exceeded ${cfg.requestTimeoutMs} ms — Spark job group $reqId cancelled")))
      // the deadline verdict applies only to requests that RAN Spark
      // jobs in their group: a jobless endpoint (/health, the service
      // doc) has nothing the watchdog could have cancelled, and
      // classifying it 504 just because the flag flipped mid-handler
      // would turn any GC pause into a spurious timeout
      def groupRanJobs: Boolean =
        spark.sparkContext.statusTracker.getJobIdsForGroup(reqId).nonEmpty
      // the OTHER cancellation shape: cancelJobGroupAndFutureJobs
      // kills a job at SUBMIT time, before it ever registers with the
      // status tracker — but Spark's cancellation error names the job
      // group, and this request's group id is unique, so a cause
      // chain mentioning it is our deadline firing and nothing else
      def mentionsGroup(e: Throwable): Boolean =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
          .exists(t => Option(t.getMessage).exists(_.contains(reqId)))
      // compute the full response FIRST, respond exactly once: if the
      // error mapping ran after a partially-written 200, the second
      // sendResponseHeaders would throw out of the handler instead of
      // reporting the real failure
      val (code, payload) = try {
        // own job group per request: visible in the Spark UI, and a
        // server shutdown can cancel whatever is still running
        spark.sparkContext.setJobGroup(reqId,
          s"${ex.getRequestMethod} ${ex.getRequestURI.getPath}", interruptOnCancel = true)
        // a handler that RETURNED computed its full, correct response:
        // every job it needed completed before the cancellation bit
        // (a job the watchdog actually killed surfaces as an exception
        // below). Discarding that finished work as a 504 just because
        // the flag flipped during final serialization would waste a
        // correct answer the client then recomputes.
        (200, handle(ex, hits))
      } catch {
        // deadline first: the cancellation surfaces as a SparkException
        // whose shape varies by where the job was when it died —
        // classify by OUR flag (plus jobs-ran, see above), not by
        // exception type
        case NonFatal(e) if timedOut.get && (groupRanJobs || mentionsGroup(e)) => timeoutPayload
        case HttpError(c, msg) => (c, JObject("error" -> JString(msg)))
        case e: IllegalArgumentException =>
          (400, JObject("error" -> JString(Option(e.getMessage).getOrElse("bad request"))))
        case e: org.json4s.MappingException =>
          (400, JObject("error" -> JString(s"bad JSON: ${e.getMessage}")))
        case e: com.fasterxml.jackson.core.JacksonException =>
          (400, JObject("error" -> JString(s"bad JSON: ${e.getMessage}")))
        case e: org.apache.spark.sql.AnalysisException =>
          (400, JObject("error" -> JString(s"analysis: ${e.getMessage}")))
        case NonFatal(e) =>
          (500, JObject("error" -> JString(
            s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")))
      } finally {
        active.remove(reqId)
        deadline.foreach(_.cancel(false))
        spark.sparkContext.clearJobGroup()
      }
      // record AFTER the response is computed (latency covers the real
      // work) but regardless of whether the client hangs up mid-write
      val method = ex.getRequestMethod
      val st = stats.computeIfAbsent(
        (if (routeMethods(method)) method else "(other)") + " " +
          hits.headOption.fold("(other)")(_._1.path),
        _ => new EndpointStat)
      st.count.incrementAndGet()
      if (code >= 400) st.errors.incrementAndGet()
      st.totalMs.addAndGet((System.nanoTime() - reqStartNs) / 1000000L)
      try respond(ex, code, payload) finally ex.close()
    })

    server.start()
    new Running(server, pool, watchdog,
      () => active.forEach(id => spark.sparkContext.cancelJobGroupAndFutureJobs(id)),
      // under annLock: waits out any in-progress synchronous refresh
      // (closing ITS result, not a stale snapshot); the annClosed flag
      // makes a still-running BACKGROUND build release its own result
      // at swap time and refuses later synchronous builds — no
      // instance can be published after this
      () => {
        annLock.synchronized {
          annClosed = true
          Option(annRef.get).foreach(_.close())
          annAlt.values.forEach(_.idx.close())
          annAlt.clear()
        }
        // the maintained cohort state pins one persisted frame — same
        // leak shape as the ANN cache on a shared long-lived session;
        // the closed flag stops a request queued on the lock from
        // persisting and publishing a fresh state after this
        cohortLock.synchronized {
          cohortClosed = true
          Option(cohortStateRef.get).foreach(_.state.unpersist())
          cohortStateRef.set(null)
        }
      })
  }

  /** One endpoint's counters (see the `/status` route). */
  private final class EndpointStat {
    val count = new AtomicLong(0L)
    val errors = new AtomicLong(0L)
    val totalMs = new AtomicLong(0L)
  }
}
