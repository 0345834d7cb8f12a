package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType, TimestampType}

/** SQL-text DDL/DML front-end: parses GridDB's CREATE/DROP/ALTER TABLE,
  * CREATE VIEW, INSERT/REPLACE, UPDATE and DELETE statements and routes them
  * to [[GraftCatalog]] / [[PartitionedTables]] — the statement surface a
  * GridDB JDBC user sends as text.
  *
  * Reference grammar (/root/reference/server/sql_internal_parser.cpp):
  *  - CREATE TABLE + column defs + PRIMARY KEY: rules 15-28 (:849-862),
  *    USING TIMESERIES: rule 40 (:874)
  *  - PARTITION BY HASH / RANGE EVERY / + SUBPARTITION: rules 29-31 (:863-865)
  *  - ALTER TABLE ADD/RENAME COLUMN: rules 103-109 (:937-943)
  *  - CREATE [FORCE] VIEW: rule 74 (:908); DROP TABLE/VIEW: rules 75-79
  *  - DELETE/UPDATE/INSERT/REPLACE: rules 242-251 (:1076-1085)
  *
  * DML semantics follow the reference's DMLProcessor: INSERT errors on a
  * row-key conflict, REPLACE / INSERT OR REPLACE upserts (PUT), UPDATE and
  * DELETE apply a WHERE predicate. All DML stays distributed — the catalog
  * materializes via localCheckpoint, never through the driver.
  */
object GraftDdl {

  private val headRe =
    """(?is)^\s*(CREATE|DROP|ALTER|INSERT|REPLACE|UPDATE|DELETE|GRANT|REVOKE|SET\s+PASSWORD)\b.*""".r

  /** True when the statement is DDL/DML this front-end owns (anything
    * starting with a DDL/DML verb — SELECT and friends stay in GraftSql). */
  def handles(sqlText: String): Boolean = sqlText match {
    case headRe(_) => true
    // SHOW GRAFT INDEXES starts with a verb headRe does not carry
    case _ => GraftIndexDdl.handles(sqlText)
  }

  def run(spark: SparkSession, text0: String): DataFrame =
    run(spark, GraftCatalog.forSession(spark), text0)

  /** Catalog that receives AUTH DDL: the installed authority only when the
    * statement is operating on the session-default catalog (every text
    * front door — GraftSqlParser, Thrift — routes there); an EXPLICIT
    * catalog passed by a library caller is honored as-is. */
  private def authCat(spark: SparkSession, cat: GraftCatalog): GraftCatalog =
    if (cat eq GraftCatalog.forSession(spark)) GraftAuth.authority.getOrElse(cat)
    else cat

  /** Target table of a dialect DML statement, extracted with the SAME
    * regexes [[run]] dispatches on — GraftAuth derives its pre-routing
    * write gate from this single source of truth, so every spelling the
    * router accepts (double-quoted names, INSERT OR REPLACE/IGNORE) is
    * write-gated by construction (r9 ADVICE: a parallel gate regex
    * accepted fewer spellings than the router and let quoted-name DML
    * through unauthenticated). Applies run()'s own normalization. */
  def dmlTarget(text0: String): Option[String] = {
    val text = text0.trim.stripSuffix(";").trim
    text match {
      case insertRe(_, _, name, _, _) => Some(name)
      case updateRe(name, _) => Some(name)
      case deleteRe(name, _) => Some(name)
      case _ => None
    }
  }

  /** Table a dialect DDL statement MUTATES — same single-source-of-truth
    * contract as [[dmlTarget]], for GraftAuth's write gate (r10 fuzz
    * finding: ALTER/DROP TABLE and index/trigger DDL on a protected
    * container executed ungated). CREATE TABLE of a protected NAME is
    * included: re-creating a dropped protected container must not be a
    * way to take it over. */
  def ddlTarget(text0: String): Option[String] = {
    val text = text0.trim.stripSuffix(";").trim
    text match {
      case createTableRe(_, name) => Some(name)
      case dropTableRe(_, name) => Some(name)
      case alterDropPartRe(name, _) => Some(name)
      case alterAddRe(name, _, _, _) => Some(name)
      case alterRenameRe(name, _, _) => Some(name)
      case createIndexRe(_, _, table, _) => Some(table)
      case dropIndexRe(_, _, table) => Option(table)
      case createTriggerRe(_, table, _, _, _, _, _, _) => Some(table)
      // defining or dropping a VIEW under a protected NAME is the same
      // takeover primitive as CREATE TABLE of the name (r10 self-review:
      // a view named like the protected table shadows it for readers on
      // the same session)
      case createViewRe(name, _) => Some(name)
      case dropViewRe(name) => Some(name)
      case _ => None
    }
  }

  /** `DROP INDEX ix` with NO ON clause — the table must be resolved from
    * the catalog that recorded the index (GraftAuth does the lookup). */
  def dropIndexName(text0: String): Option[String] =
    text0.trim.stripSuffix(";").trim match {
      case dropIndexRe(_, ix, table) if table == null => Some(ix)
      case _ => None
    }

  /** `DROP TRIGGER t` — trigger name only; table resolved via catalog. */
  def dropTriggerName(text0: String): Option[String] =
    text0.trim.stripSuffix(";").trim match {
      case dropTriggerRe(_, t) => Some(t)
      case _ => None
    }

  /** True for user/role/password/grant management statements — admin-only
    * when wire enforcement is installed (GraftAuth), because any of them
    * is a straight privilege-escalation primitive (create a user, grant
    * it ALL, or reset a privileged user's password). */
  def isAuthDdl(text0: String): Boolean = {
    val text = text0.trim.stripSuffix(";").trim
    text match {
      case createUserRe(_, _) | dropUserRe(_) | createRoleRe(_) | dropRoleRe(_)
         | setPasswordRe(_, _) | grantRe(_, _, _) | revokeRe(_, _, _)
         | createDatabaseRe(_) | dropDatabaseRe(_) => true
      case _ => false
    }
  }

  /** The `FOR <user>` target of a SET PASSWORD statement (self-service
    * carve-out in the wire gate). */
  def setPasswordTarget(text0: String): Option[String] =
    text0.trim.stripSuffix(";").trim match {
      case setPasswordRe(name, _) => Option(name)
      case _ => None
    }

  def run(spark: SparkSession, cat: GraftCatalog, text0: String): DataFrame = {
    val text = text0.trim.stripSuffix(";").trim
    text match {
      // persisted ANN/dedup index lifecycle (r16 verdict #2) — distinct
      // verbs (CREATE ANN|DEDUP INDEX, ALTER INDEX, DROP ANN|DEDUP
      // INDEX), so no overlap with GridDB's container-column CREATE/DROP
      // INDEX below; source tables are read-auth-gated inside
      case _ if GraftIndexDdl.handles(text) => GraftIndexDdl.run(spark, text)
      case createTableRe(ifNot, name) => createTable(spark, cat, text, Option(ifNot), name)
      case dropTableRe(ifEx, name) =>
        if (cat.exists(name)) cat.dropContainer(name)
        else if (ifEx == null) throw new NoSuchElementException(s"table $name does not exist")
        status(spark, "DROP TABLE", name)
      case createViewRe(name, select) =>
        GraftSql.sql(spark, select).createOrReplaceTempView(name)
        cat.recordView(name, select)
        status(spark, "CREATE VIEW", name)
      case dropViewRe(name) =>
        spark.catalog.dropTempView(name)
        cat.dropView(name)
        status(spark, "DROP VIEW", name)
      case createIndexRe(ifNot, ixName, table, cols) =>
        val columns = cols.split(",")
          .map(_.trim.stripPrefix("\"").stripSuffix("\"")
            .replaceAll("(?i)\\s+(ASC|DESC)$", "")).toSeq
        try cat.createIndex(ixName, table, columns)
        catch { case e: IllegalArgumentException
          if ifNot != null && e.getMessage.contains("already exists") => }
        status(spark, "CREATE INDEX", table)
      case dropIndexRe(ifEx, ixName, _) =>
        cat.dropIndex(ixName, ifExists = ifEx != null)
        status(spark, "DROP INDEX", ixName)
      case alterDropPartRe(name, tsLit) =>
        val c = cat.get(name)
        val (tsCol, everyMs) = c.partitioning match {
          case Some(PartitionedTables.Interval(pc, e)) => (pc, e)
          case Some(PartitionedTables.IntervalHash(pc, e, _, _)) => (pc, e)
          case other => throw new IllegalArgumentException(
            s"$name: DROP PARTITION FOR requires interval partitioning, has $other")
        }
        // drop THE interval partition containing the literal (grammar rule
        // 102): delete its rows — the catalog analogue of deleting the
        // partition directory (PartitionedTables.dropPartitionsBefore)
        val t = java.sql.Timestamp.from(java.time.Instant.parse(
          tsLit.trim.replace(" ", "T") + (if (tsLit.trim.endsWith("Z")) "" else "Z")))
        val b0 = Math.floorDiv(t.getTime, everyMs) * everyMs
        cat.deleteWhere(name,
          unix_millis(col(tsCol)) >= b0 && unix_millis(col(tsCol)) < b0 + everyMs)
        status(spark, "ALTER TABLE DROP PARTITION", name)
      case alterAddRe(name, colName, tpe, prec) =>
        cat.alterAddColumn(name, colName, sparkType(tpe, Option(prec).map(_.toInt)))
        status(spark, "ALTER TABLE ADD", name)
      case alterRenameRe(name, from, to) =>
        cat.alterRenameColumn(name, from, to)
        status(spark, "ALTER TABLE RENAME", name)
      case insertRe(verb, orConf, name, colList, body) =>
        val replace = verb.equalsIgnoreCase("REPLACE") ||
          (orConf != null && orConf.equalsIgnoreCase("REPLACE"))
        insert(spark, cat, name, Option(colList), body.trim, replace)
      case updateRe(name, rest) =>
        val (setList, where) = splitUpdateTail(rest)
        val assignments = GraftSql.splitSelectList(setList).map { a =>
          val eq = topLevelEq(a)
          require(eq > 0, s"malformed SET assignment: $a")
          a.substring(0, eq).trim -> expr(GraftSql.rewriteTimeFns(a.substring(eq + 1).trim))
        }.toMap
        cat.update(name, assignments,
          where.map(w => expr(GraftSql.rewriteTimeFns(w))).getOrElse(lit(true)))
        status(spark, "UPDATE", name)
      case deleteRe(name, where) =>
        cat.deleteWhere(name,
          Option(where).map(w => expr(GraftSql.rewriteTimeFns(w))).getOrElse(lit(true)))
        status(spark, "DELETE", name)
      case createTriggerRe(tName, table, events, colList, tType, uri, jmsKind, jmsName) =>
        cat.createTrigger(TriggerDef(
          name = tName, table = table,
          eventTypes = events.split(",").map(_.trim.toUpperCase).filter(_.nonEmpty).toSeq,
          columns = Option(colList).toSeq
            .flatMap(_.split(",")).map(_.trim.stripPrefix("\"").stripSuffix("\""))
            .filter(_.nonEmpty),
          triggerType = tType.toUpperCase,
          uri = uri,
          jmsDestinationType = Option(jmsKind).map(_.toUpperCase),
          jmsDestinationName = Option(jmsName)))
        status(spark, "CREATE TRIGGER", tName)
      case dropTriggerRe(ifEx, tName) =>
        cat.dropTrigger(tName, ifExists = ifEx != null)
        status(spark, "DROP TRIGGER", tName)
      // ---- auth DDL (grammar rules 78-90; sql_processor_ddl.cpp:218,554) --
      // When wire enforcement is installed, auth DDL arriving through the
      // SESSION-DEFAULT catalog (the text front doors — GraftSqlParser /
      // Thrift — always route there) mutates the INSTALLED AUTHORITY: a
      // Thrift connection's session-local catalog would otherwise absorb
      // an admin's GRANT and the authority would never see it (r10
      // JdbcSpec wire round trip). A library caller that passed its OWN
      // catalog to run(spark, cat, ...) keeps it — the explicit catalog IS
      // the statement's target, and silently re-routing those writes to
      // the global authority would mutate state the caller never named
      // (r10 ADVICE).
      case createUserRe(name, pw) =>
        authCat(spark, cat).createUser(name, Option(pw))
        status(spark, "CREATE USER", name)
      case dropUserRe(name) =>
        authCat(spark, cat).dropUser(name)
        status(spark, "DROP USER", name)
      case createRoleRe(name) =>
        authCat(spark, cat).createUser(name, None, isRole = true)
        status(spark, "CREATE ROLE", name)
      case dropRoleRe(name) =>
        authCat(spark, cat).dropUser(name, isRole = true)
        status(spark, "DROP ROLE", name)
      case setPasswordRe(name, pw) =>
        // `SET PASSWORD = '...'` (no FOR) targets the CURRENT user in the
        // reference; a library session has no ambient user, so require FOR
        val target = Option(name).getOrElse(throw new IllegalArgumentException(
          "SET PASSWORD requires FOR <user> (no ambient session user)"))
        authCat(spark, cat).setPassword(target, pw)
        status(spark, "SET PASSWORD", target)
      case grantRe(priv, table, grantee) =>
        authCat(spark, cat).grant(priv, table, grantee)
        status(spark, "GRANT", s"$priv ON $table TO $grantee")
      case revokeRe(priv, table, grantee) =>
        authCat(spark, cat).revoke(priv, table, grantee)
        status(spark, "REVOKE", s"$priv ON $table FROM $grantee")
      case createDatabaseRe(name) =>
        authCat(spark, cat).createDatabase(name)
        status(spark, "CREATE DATABASE", name)
      case dropDatabaseRe(name) =>
        authCat(spark, cat).dropDatabase(name)
        status(spark, "DROP DATABASE", name)
      case _ =>
        throw new IllegalArgumentException(
          s"unsupported DDL/DML statement: ${text.linesIterator.next()}")
    }
  }

  // ---- statement shapes ----------------------------------------------------
  private val createTableRe =
    """(?is)^CREATE\s+TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?"?(\w+)"?\s*\(.*""".r
  private val dropTableRe =
    """(?is)^DROP\s+TABLE\s+(?:(IF\s+EXISTS)\s+)?"?(\w+)"?$""".r
  private val createViewRe =
    """(?is)^CREATE\s+(?:OR\s+REPLACE\s+)?(?:FORCE\s+)?VIEW\s+"?(\w+)"?\s+AS\s+(.*)$""".r
  private val dropViewRe = """(?is)^DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?"?(\w+)"?$""".r
  // auth DDL statement shapes (sql_internal_parser.cpp rules 78-90)
  private val createUserRe =
    """(?is)^CREATE\s+USER\s+"?(\w+)"?(?:\s+IDENTIFIED\s+BY\s+'([^']*)')?$""".r
  private val dropUserRe = """(?is)^DROP\s+USER\s+"?(\w+)"?$""".r
  private val createRoleRe = """(?is)^CREATE\s+ROLE\s+"?(\w+)"?$""".r
  private val dropRoleRe = """(?is)^DROP\s+ROLE\s+"?(\w+)"?$""".r
  private val setPasswordRe =
    """(?is)^SET\s+PASSWORD\s+(?:FOR\s+"?(\w+)"?\s+)?=\s*'([^']*)'$""".r
  private val grantRe =
    """(?is)^GRANT\s+(ALL|SELECT)\s+ON\s+"?(\w+)"?\s+TO\s+"?(\w+)"?$""".r
  private val revokeRe =
    """(?is)^REVOKE\s+(ALL|SELECT)\s+ON\s+"?(\w+)"?\s+FROM\s+"?(\w+)"?$""".r
  private val createDatabaseRe = """(?is)^CREATE\s+DATABASE\s+"?(\w+)"?$""".r
  private val dropDatabaseRe = """(?is)^DROP\s+DATABASE\s+"?(\w+)"?$""".r
  // grammar rule 91: CREATE INDEX ifnotexists nm ON nm (idxlist); idxlist
  // entries allow ASC/DESC (rules 94-95, direction advisory here)
  private val createIndexRe =
    """(?is)^CREATE\s+INDEX\s+(?:(IF\s+NOT\s+EXISTS)\s+)?"?(\w+)"?\s+ON\s+"?(\w+)"?\s*\(([^)]*)\)\s*$""".r
  private val dropIndexRe =
    """(?is)^DROP\s+INDEX\s+(?:(IF\s+EXISTS)\s+)?"?(\w+)"?(?:\s+ON\s+"?(\w+)"?)?$""".r
  private val alterDropPartRe =
    """(?is)^ALTER\s+TABLE\s+"?(\w+)"?\s+DROP\s+PARTITION\s+FOR\s*\(\s*TIMESTAMP\s*'([^']+)'\s*\)$""".r
  private val alterAddRe =
    """(?is)^ALTER\s+TABLE\s+"?(\w+)"?\s+ADD\s+(?:COLUMN\s+)?"?(\w+)"?\s+(\w+)\s*(?:\(\s*(\d+)\s*\))?$""".r
  private val alterRenameRe =
    """(?is)^ALTER\s+TABLE\s+"?(\w+)"?\s+RENAME\s+COLUMN\s+"?(\w+)"?\s+TO\s+"?(\w+)"?$""".r
  private val insertRe =
    """(?is)^(INSERT|REPLACE)(?:\s+OR\s+(REPLACE|IGNORE))?\s+INTO\s+"?(\w+)"?\s*(?:\(([^)]*)\)\s*)?(VALUES.*|SELECT.*)$""".r
  // Additive statement (no SQL grammar for triggers exists in the
  // reference — clients create them via the NoSQL API, gridstore.h
  // GSTriggerInfo, and the CE server rejects even that): CREATE TRIGGER
  // name ON table FOR PUT[,DELETE] [COLUMNS (c,..)] TYPE REST|JMS URI 'u'
  // [JMS TOPIC|QUEUE 'dest']
  private val createTriggerRe =
    ("""(?is)^CREATE\s+TRIGGER\s+"?(\w+)"?\s+ON\s+"?(\w+)"?\s+FOR\s+([\w,\s]+?)""" +
      """(?:\s+COLUMNS\s*\(([^)]*)\))?\s+TYPE\s+(REST|JMS)\s+URI\s+'([^']*)'""" +
      """(?:\s+JMS\s+(TOPIC|QUEUE)\s+'([^']*)')?\s*$""").r
  private val dropTriggerRe =
    """(?is)^DROP\s+TRIGGER\s+(?:(IF\s+EXISTS)\s+)?"?(\w+)"?$""".r
  private val updateRe = """(?is)^UPDATE\s+"?(\w+)"?\s+SET\s+(.*)$""".r
  private val deleteRe =
    """(?is)^DELETE\s+FROM\s+"?(\w+)"?(?:\s+WHERE\s+(.*))?$""".r

  private def status(spark: SparkSession, op: String, table: String): DataFrame = {
    import spark.implicits._
    Seq((op, table)).toDF("operation", "table")
  }

  // ---- CREATE TABLE --------------------------------------------------------

  /** GridDB SQL type name (+ optional precision) -> Spark type. TIMESTAMP(9)
    * carries as epoch-nanos LongType (Spark timestamps are µs — same
    * convention as Tables.events ts_ns). */
  private[engine] def sparkType(name: String, prec: Option[Int]): DataType = {
    val n = name.toUpperCase match {
      case "INT" => "INTEGER"
      case "BIGINT" => "LONG"
      case "REAL" => "FLOAT"
      case "BOOLEAN" => "BOOL"
      case "VARCHAR" | "TEXT" | "CHAR" => "STRING"
      case "DECIMAL" => "NUMERIC"
      case other => other
    }
    (n, prec) match {
      case ("TIMESTAMP", Some(9)) => LongType
      case ("TIMESTAMP", _) => TimestampType
      case _ => GridDbTypes.toSpark.getOrElse(n,
        throw new IllegalArgumentException(s"unknown column type $name"))
    }
  }

  private val colDefRe =
    """(?is)^"?(\w+)"?\s+(\w+)\s*(?:\(\s*(\d+)\s*\))?\s*(.*)$""".r
  private val pkConstraintRe = """(?is)^PRIMARY\s+KEY\s*\(([^)]*)\)$""".r

  private val partHashRe =
    """(?is)\bPARTITION\s+BY\s+HASH\s*\(?\s*"?(\w+)"?\s*\)?\s+PARTITIONS\s+(\d+)""".r
  private val partRangeRe =
    """(?is)\bPARTITION\s+BY\s+RANGE\s*\(\s*"?(\w+)"?\s*\)\s+EVERY\s*\(\s*(\d+)\s*(?:,\s*(\w+))?\s*\)(\s+SUBPARTITION\s+BY\s+HASH\s*\(?\s*"?(\w+)"?\s*\)?\s+PARTITIONS\s+(\d+))?""".r

  private def createTable(spark: SparkSession, cat: GraftCatalog, text: String,
                          ifNotExists: Option[String], name: String): DataFrame = {
    if (cat.exists(name)) {
      if (ifNotExists.isDefined) return status(spark, "CREATE TABLE", name)
      throw new IllegalArgumentException(s"table $name already exists")
    }
    // balanced-scan the column-def list: trailing clauses (PARTITION BY
    // EVERY(...)) contain parens, so a greedy regex can't find the close
    val open = text.indexOf('(')
    var depth = 1; var i = open + 1
    while (i < text.length && depth > 0) {
      text(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
      }
      i += 1
    }
    require(depth == 0, "unbalanced parentheses in CREATE TABLE")
    val colDefs = text.substring(open + 1, i - 1)
    val tail = text.substring(i)

    val pk = Seq.newBuilder[String]
    val nanoCols = Seq.newBuilder[String] // TIMESTAMP(9) columns (epoch-ns LONG)
    val fields = GraftSql.splitSelectList(colDefs).flatMap {
      case pkConstraintRe(cols) =>
        pk ++= cols.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
        None
      case colDefRe(colName, tpe, prec, mods) =>
        val m = mods.toUpperCase
        if (m.contains("PRIMARY KEY")) pk += colName
        if (tpe.equalsIgnoreCase("TIMESTAMP") && Option(prec).map(_.toInt).contains(9))
          nanoCols += colName
        Some(StructField(colName, sparkType(tpe, Option(prec).map(_.toInt)),
          nullable = !m.contains("NOT NULL") && !m.contains("PRIMARY KEY")))
      case other =>
        throw new IllegalArgumentException(s"malformed column definition: $other")
    }
    val keyCols = pk.result()
    val schema = StructType(fields)

    val timeseries = """(?is)\bUSING\s+TIMESERIES\b""".r.findFirstIn(tail).isDefined
    if (timeseries) {
      require(keyCols.size == 1,
        "USING TIMESERIES requires a single PRIMARY KEY column (the time key)")
      require(schema(keyCols.head).dataType == TimestampType ||
        schema(keyCols.head).dataType == LongType,
        "TIMESERIES key must be a TIMESTAMP column")
    }

    val partitioning: Option[PartitionedTables.Partitioning] =
      partRangeRe.findFirstMatchIn(tail).map { m =>
        val everyMs = m.group(2).toLong * unitMs(Option(m.group(3)).getOrElse("DAY"))
        if (m.group(4) != null)
          PartitionedTables.IntervalHash(m.group(1), everyMs, m.group(5), m.group(6).toInt)
        else PartitionedTables.Interval(m.group(1), everyMs)
      }.orElse(partHashRe.findFirstMatchIn(tail).map(m =>
        PartitionedTables.Hash(m.group(1), m.group(2).toInt)))

    // WITH (...) option list — validated BEFORE any catalog effect (the
    // reference rejects at compile, nosql_command.cpp:2100)
    val (expiration, hints) =
      buildExpiration(parseWithOptions(tail), timeseries, partitioning)

    if (timeseries) cat.createTimeSeries(name, schema, keyCols.head)
    else cat.createCollection(name, schema, keyCols)
    // TIMESTAMP(9) columns carry epoch NANOS in their LONG — record the
    // set so time arithmetic on the container (TTL expiry over the key OR
    // the partition column, on either kind) scales right (r12 review: a
    // key-only flag missed Collection partition expiry on a nano column)
    val nanoSet = nanoCols.result().toSet
    if (partitioning.isDefined || expiration.isDefined || hints.nonEmpty || nanoSet.nonEmpty)
      cat.alter(name)(_.copy(
        partitioning = partitioning, expiration = expiration,
        placementHints = hints, nanoColumns = nanoSet))
    status(spark, "CREATE TABLE", name)
  }

  // ---- CREATE TABLE ... WITH (...) --------------------------------------
  // Grammar: createtable_opt ::= WITH LP createtable_optlist RP;
  // createtable_optlist ::= [optlist ,] nm EQ expr (rules 44-46,
  // /root/reference/server/sql_internal_parser.cpp:878-880). Option ids:
  // DDLWithParameter (/root/reference/server/sql_parser.h:49-57).

  /** Keys that configure declarative expiry. */
  private val ExpirationKeys = Set("expiration_time", "expiration_time_unit",
    "expiration_division_count", "expiration_type")

  /** Physical-placement hints on the reference's chunk store — meaningless
    * on a Spark layout (Catalyst owns placement); accepted and recorded so
    * reference DDL round-trips (DATA_AFFINITY surfaces in #tables). */
  private val PlacementHintKeys = Set("data_affinity", "data_affinity_policy",
    "interval_worker_group", "interval_worker_group_position")

  /** The `WITH ( k = v, ... )` list of a CREATE TABLE tail, keys
    * lowercased, values raw (quoted strings keep their quotes for type
    * validation). Empty when the clause is absent. */
  private def parseWithOptions(tail: String): Map[String, String] =
    """(?is)\bWITH\s*\(""".r.findFirstMatchIn(tail) match {
      case None => Map.empty
      case Some(m) =>
        var depth = 1; var i = m.end
        while (i < tail.length && depth > 0) {
          tail(i) match {
            case '(' => depth += 1
            case ')' => depth -= 1
            case _ =>
          }
          i += 1
        }
        require(depth == 0, "unbalanced parentheses in WITH options")
        GraftSql.splitSelectList(tail.substring(m.end, i - 1)).map { item =>
          val eq = item.indexOf('=')
          require(eq > 0, s"malformed WITH option: $item")
          val k = item.substring(0, eq).trim.toLowerCase
            .stripPrefix("\"").stripSuffix("\"")
          k -> item.substring(eq + 1).trim
        }.toMap
    }

  /** Validate and build the expiry declaration + recorded placement hints,
    * mirroring the reference's checks and messages
    * (/root/reference/server/nosql_command.cpp:2100-2211): positive int32
    * time/division, DAY..MILLISECOND units, type ROW|PARTITION (default
    * PARTITION), division count only with ROW, ROW only on TimeSeries —
    * plus: PARTITION expiry needs interval partitioning to define the
    * droppable unit (TableExpirationSchemaInfo rides the interval
    * partition list, nosql_command.cpp:4193). */
  private def buildExpiration(opts: Map[String, String], timeseries: Boolean,
      partitioning: Option[PartitionedTables.Partitioning])
      : (Option[Expiration], Map[String, String]) = {
    val unknown = opts.keySet -- ExpirationKeys -- PlacementHintKeys
    require(unknown.isEmpty, s"unknown WITH option(s): ${unknown.mkString(", ")}")
    def strOf(k: String): Option[String] = opts.get(k).map { v =>
      require(v.length >= 2 && v.startsWith("'") && v.endsWith("'"),
        s"Invalid format type ($k)")
      v.substring(1, v.length - 1)
    }
    def intOf(k: String): Option[Int] = opts.get(k).map { v =>
      require(v.matches("[-+]?\\d+"), s"Invalid format type ($k)")
      val n = BigInt(v)
      require(n > 0, s"Invalid value(> 0) ($k)")
      require(n <= Int.MaxValue, s"Invalid value(integer overflow) ($k)")
      n.toInt
    }
    val hints = PlacementHintKeys.toSeq.sorted.flatMap(k =>
      opts.get(k).map(v => k -> v.stripPrefix("'").stripSuffix("'"))).toMap
    val time = intOf("expiration_time")
    val unit = strOf("expiration_time_unit").map(_.toUpperCase)
    unit.foreach(u => require(Expiration.Units.contains(u),
      s"Target time unit '$u' not supported"))
    val division = intOf("expiration_division_count")
    val eType = strOf("expiration_type").map(_.toUpperCase)
    eType.foreach(t => require(t == "ROW" || t == "PARTITION",
      s"Target expiration type '$t' not supported"))
    if (time.isEmpty && unit.isEmpty && division.isEmpty && eType.isEmpty)
      return (None, hints)
    val resolvedType = eType.getOrElse("PARTITION")
    require(!(division.isDefined && resolvedType == "PARTITION"),
      "Division Count must be row expiration")
    require(!(resolvedType == "ROW" && !timeseries),
      "Row expiration definition must be timeseries container")
    require(time.isDefined, "TimeSeries property must be setted elapsed time")
    if (resolvedType == "PARTITION")
      require(partitioning.exists {
        case _: PartitionedTables.Interval | _: PartitionedTables.IntervalHash => true
        case _ => false
      }, "Partition expiration requires interval partitioning " +
        "(PARTITION BY RANGE ... EVERY)")
    (Some(Expiration(time.get, unit.getOrElse("DAY"),
      division.getOrElse(8), resolvedType)), hints)
  }

  private def unitMs(u: String): Long =
    // one unit table for EVERY and expiration (r12 review: two copies of
    // the same five constants invite silent divergence)
    Expiration.Units.getOrElse(u.toUpperCase,
      throw new IllegalArgumentException(s"unsupported EVERY unit $u"))

  // ---- INSERT / REPLACE ----------------------------------------------------

  private def insert(spark: SparkSession, cat: GraftCatalog, name: String,
                     colList: Option[String], body: String,
                     replace: Boolean): DataFrame = {
    val c = cat.get(name)
    val target = c.df.schema
    val cols = colList
      .map(_.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq)
      .getOrElse(target.fieldNames.toSeq)
    cols.foreach(cn => require(target.fieldNames.contains(cn),
      s"$name has no column $cn"))

    val src0 =
      if (body.toUpperCase.startsWith("VALUES"))
        spark.sql(s"SELECT * FROM ($body) AS __ins(${cols.mkString(", ")})")
      else GraftSql.sql(spark, body)
    require(src0.columns.length == cols.size,
      s"INSERT column count ${cols.size} does not match select list ${src0.columns.length}")
    val src = src0.toDF(cols: _*)

    // align positionally-named source columns onto the full container schema,
    // casting to the declared types; unlisted columns become NULL
    val aligned = src.select(target.fields.toSeq.map { f =>
      if (cols.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)

    if (!replace && c.keyColumns.nonEmpty) {
      // reference semantics: plain INSERT errors on a row-key conflict
      // (REPLACE upserts). One distributed semi-join, same price the
      // reference pays for its PK probe.
      val conflicts = c.df.join(aligned, c.keyColumns, "left_semi").limit(1).count()
      if (conflicts > 0) throw new IllegalStateException(
        s"INSERT into $name violates PRIMARY KEY (${c.keyColumns.mkString(",")}); " +
          "use REPLACE or INSERT OR REPLACE to upsert")
    }
    cat.put(name, aligned)
    status(spark, if (replace) "REPLACE" else "INSERT", name)
  }

  // ---- UPDATE helpers ------------------------------------------------------

  /** Split `setlist [WHERE cond]` at the top-level WHERE (not inside parens
    * or quotes). */
  private def splitUpdateTail(rest: String): (String, Option[String]) = {
    var depth = 0; var inQ = false; var i = 0
    val up = rest.toUpperCase
    while (i < rest.length) {
      rest(i) match {
        case '\'' => inQ = !inQ
        case '(' if !inQ => depth += 1
        case ')' if !inQ => depth -= 1
        case _ =>
      }
      if (!inQ && depth == 0 && up.startsWith("WHERE", i) &&
        (i == 0 || rest(i - 1).isWhitespace) &&
        (i + 5 >= rest.length || !rest(i + 5).isLetterOrDigit))
        return (rest.substring(0, i).trim, Some(rest.substring(i + 5).trim))
      i += 1
    }
    (rest.trim, None)
  }

  /** Index of the first top-level `=` (assignment split; `=` inside parens,
    * quotes, or comparison operators is skipped). */
  private def topLevelEq(s: String): Int = {
    var depth = 0; var inQ = false; var i = 0
    while (i < s.length) {
      s(i) match {
        case '\'' => inQ = !inQ
        case '(' if !inQ => depth += 1
        case ')' if !inQ => depth -= 1
        case '=' if !inQ && depth == 0 &&
          (i == 0 || !"<>!=".contains(s(i - 1))) &&
          (i + 1 >= s.length || s(i + 1) != '=') => return i
        case _ =>
      }
      i += 1
    }
    -1
  }
}
