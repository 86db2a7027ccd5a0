package graft

/** Conf-gated authorization ENFORCEMENT
  * (`spark.graft.authorization=true`): deny without grant, allow
  * after grant, role inheritance, ownership rules, admin bypass —
  * with denial messages byte-identical to the reference's recorded
  * clientnegative outputs (read from the reference tree at test
  * time, not copied). */
class AuthEnforcementSpec extends SparkSpec {

  private val negDir =
    s"${Reference.Root}/ql/src/test/results/clientnegative"

  /** The recorded `FAILED: HiveAccessControlException <msg>` line of
    * a clientnegative golden, minus the CLI prefix. */
  private def recordedDenial(file: String): String = {
    val src = scala.io.Source.fromFile(s"$negDir/$file", "UTF-8")
    try src.getLines()
      .filter(_.startsWith("FAILED: HiveAccessControlException "))
      .toSeq.last.stripPrefix("FAILED: HiveAccessControlException ")
    finally src.close()
  }

  private def fresh(names: String*): Unit = names.foreach(freshTable)

  private def withEnforcement(body: HiveStatements => Unit): Unit = {
    spark.conf.set("spark.graft.authorization", "true")
    // the reference clientnegative scripts switch identity via
    // `set user.name=...` (test authenticator); that switch is gated
    // behind its own opt-in while enforcement is on
    spark.conf.set("spark.graft.authorization.userswitch", "true")
    try body(new HiveStatements(spark))
    finally {
      spark.conf.unset("spark.graft.authorization")
      spark.conf.unset("spark.graft.authorization.userswitch")
    }
  }

  private def denialOf(h: HiveStatements, q: String): String =
    intercept[AuthEnforcement.HiveAccessControlException](h.sql(q))
      .getMessage

  test("SELECT without privilege denies with the reference's " +
      "recorded message (authorization_select.q.out, byte-identical)") {
    withEnforcement { h =>
      fresh("t1")
      h.sql("create table t1(i int)")
      h.sql("set user.name=user1")
      assert(denialOf(h, "select * from t1") ===
        recordedDenial("authorization_select.q.out"))
      fresh("t1")
    }
  }

  test("INSERT without privilege denies with action=INSERT " +
      "(authorization_insert_noinspriv.q.out, byte-identical); the " +
      "inserting user's OWN table passes its SELECT check via owner " +
      "grants") {
    withEnforcement { h =>
      fresh("t1", "user2tab")
      h.sql("create table t1(i int)")
      h.sql("set user.name=user1")
      h.sql("create table user2tab(i int)")
      assert(denialOf(h, "insert into table t1 select * from user2tab")
        === recordedDenial("authorization_insert_noinspriv.q.out"))
      fresh("t1", "user2tab")
    }
  }

  test("DROP PARTITION without DELETE denies as ALTERTABLE_DROPPARTS " +
      "(authorization_droppartition.q.out, byte-identical); the owner " +
      "may ADD the partition first") {
    withEnforcement { h =>
      fresh("tpart")
      h.sql("create table tpart(i int, j int) partitioned by (k string)")
      h.sql("alter table tpart add partition (k = 'abc')")
      h.sql("set user.name=user1")
      assert(denialOf(h, "alter table tpart drop partition (k = 'abc')")
        === recordedDenial("authorization_droppartition.q.out"))
      fresh("tpart")
    }
  }

  test("DROP TABLE by a non-owner denies with OBJECT OWNERSHIP " +
      "(authorization_not_owner_drop_tab.q.out, byte-identical)") {
    withEnforcement { h =>
      fresh("t1")
      h.sql("set user.name=user1")
      h.sql("create table t1(i int)")
      h.sql("set user.name=user2")
      assert(denialOf(h, "drop table t1") ===
        recordedDenial("authorization_not_owner_drop_tab.q.out"))
      h.sql("set user.name=user1")
      h.sql("drop table t1") // the owner may
      fresh("t1")
    }
  }

  test("allow after grant, re-deny after revoke") {
    withEnforcement { h =>
      fresh("ga_t")
      h.sql("create table ga_t(i int)")
      h.sql("insert into ga_t values (7)")
      h.sql("set user.name=user1")
      intercept[AuthEnforcement.HiveAccessControlException](
        h.sql("select * from ga_t"))
      h.sql("set user.name=hive_test_user")
      h.sql("grant select on table ga_t to user user1")
      h.sql("set user.name=user1")
      val got = h.sql("select i from ga_t").get.collect().map(_.getInt(0))
      assert(got.toSeq === Seq(7))
      // SELECT alone does not confer INSERT
      intercept[AuthEnforcement.HiveAccessControlException](
        h.sql("insert into ga_t values (8)"))
      h.sql("set user.name=hive_test_user")
      h.sql("revoke select on table ga_t from user user1")
      h.sql("set user.name=user1")
      intercept[AuthEnforcement.HiveAccessControlException](
        h.sql("select * from ga_t"))
      h.sql("set user.name=hive_test_user")
      fresh("ga_t")
    }
  }

  test("role inheritance: a privilege granted to a role reaches its " +
      "members, transitively through role-to-role grants") {
    withEnforcement { h =>
      fresh("role_t")
      h.sql("create table role_t(i int)")
      h.sql("insert into role_t values (3)")
      h.sql("create role readers")
      h.sql("create role analysts")
      h.sql("grant select on table role_t to role readers")
      // analysts ⊂ readers; user3 ∈ analysts
      h.sql("grant role readers to role analysts")
      h.sql("grant role analysts to user user3")
      h.sql("set user.name=user3")
      assert(h.sql("select i from role_t").get.collect()
        .map(_.getInt(0)).toSeq === Seq(3))
      h.sql("set user.name=user4") // not a member
      intercept[AuthEnforcement.HiveAccessControlException](
        h.sql("select * from role_t"))
      h.sql("set user.name=hive_test_user")
      h.sql("drop role readers")
      h.sql("drop role analysts")
      fresh("role_t")
    }
  }

  test("SET ROLE admin bypasses checks; dropping the role set " +
      "re-enables them") {
    withEnforcement { h =>
      fresh("adm_t")
      h.sql("create table adm_t(i int)")
      h.sql("set user.name=user9")
      intercept[AuthEnforcement.HiveAccessControlException](
        h.sql("select * from adm_t"))
      h.sql("set role admin")
      assert(h.sql("select * from adm_t").get.collect().length === 0)
      h.sql("set role none")
      intercept[AuthEnforcement.HiveAccessControlException](
        h.sql("select * from adm_t"))
      h.sql("set user.name=hive_test_user")
      fresh("adm_t")
    }
  }

  /** Replay one clientnegative authorization script end-to-end
    * against a fresh enforcement-enabled dispatcher and compare the
    * FIRST denial raised to the recorded one. Statements outside the
    * replay surface (EXPLAIN AUTHORIZATION, dfs, exotic DDL) are
    * tolerated — the reference executed them fine; the DENIAL text is
    * the contract under test. Returns None on byte-identical match. */
  private def replayNegative(name: String): Option[String] = {
    val qPath = new java.io.File(
      s"${Reference.Root}/ql/src/test/queries/clientnegative", s"$name.q")
    val want = recordedDenial(s"$name.q.out")
    val text = {
      val src = scala.io.Source.fromFile(qPath, "UTF-8")
      try src.mkString finally src.close()
    }
    // split on top-level ';' with strings respected, comments stripped
    val stmts = {
      val out = Vector.newBuilder[String]
      val cur = new StringBuilder
      var i = 0
      var inStr = ' '
      while (i < text.length) {
        val c = text.charAt(i)
        if (inStr != ' ') {
          cur.append(c); if (c == inStr) inStr = ' '
        } else if (c == '\'' || c == '"') { cur.append(c); inStr = c }
        else if (c == '-' && i + 1 < text.length &&
            text.charAt(i + 1) == '-') {
          while (i < text.length && text.charAt(i) != '\n') i += 1
        } else if (c == ';') { out += cur.result(); cur.clear() }
        else cur.append(c)
        i += 1
      }
      out += cur.result()
      out.result().map(_.trim).filter(_.nonEmpty)
    }
    val s = spark.newSession()
    s.conf.set("spark.graft.authorization", "true")
    // the scripts drive identity via `set user.name` (the
    // reference's test authenticator) — opt in explicitly
    s.conf.set("spark.graft.authorization.userswitch", "true")
    val h = new HiveStatements(s)
    val createdTables = scala.collection.mutable.Buffer[String]()
    val createdDbs = scala.collection.mutable.Buffer[String]()
    var denial: Option[String] = None
    val it = stmts.iterator
    while (denial.isEmpty && it.hasNext) {
      val st = it.next()
      val sl = st.toLowerCase
      if (!sl.startsWith("set hive.") && !sl.startsWith("dfs ") &&
          !sl.startsWith("add jar") && !sl.startsWith("reload")) {
        ("(?is)^create\\s+(?:temporary\\s+)?(?:external\\s+)?" +
          "(?:table|view)\\s+(?:if\\s+not\\s+exists\\s+)?" +
          "`?([\\w.]+)`?").r.findFirstMatchIn(st)
          .foreach(m => createdTables += m.group(1).toLowerCase)
        "(?is)^create\\s+(?:database|schema)\\s+`?(\\w+)`?".r
          .findFirstMatchIn(st)
          .foreach(m => createdDbs += m.group(1).toLowerCase)
        try h.sql(st)
        catch {
          case e: AuthEnforcement.HiveAccessControlException =>
            denial = Some(e.getMessage)
          case _: Throwable => // out-of-scope statement, tolerated
        }
      }
    }
    // cleanup: enforcement off, drop everything this file created
    s.conf.unset("spark.graft.authorization")
    createdTables.foreach { t =>
      val base = t.split('.').last
      Seq(base, t.replace(".", "__")) ++
        createdDbs.map(d => s"${d}__$base") foreach { cand =>
          scala.util.Try(spark.sql(s"DROP TABLE IF EXISTS `$cand`"))
          scala.util.Try(spark.catalog.dropTempView(cand))
          val dir = new java.io.File("spark-warehouse/" + cand)
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
          }
          if (dir.exists()) rm(dir)
        }
    }
    denial match {
      case Some(msg) if msg == want => None
      case Some(msg) =>
        Some(s"DENIAL MISMATCH\n got  $msg\n want $want")
      case None => Some(s"no denial raised (want $want)")
    }
  }

  test("clientnegative denial sweep: recorded authorization scripts " +
      "replay end-to-end through an enforcement-enabled dispatcher " +
      "and every denial message byte-matches the reference recording") {
    val files = Seq(
      "authorization_select", "authorization_select_view",
      "authorization_insert_noinspriv",
      "authorization_insert_noselectpriv",
      "authorization_insertoverwrite_nodel",
      "authorization_insertpart_noinspriv",
      "authorization_delete_nodeletepriv",
      "authorization_update_noupdatepriv",
      "authorization_desc_table_nosel",
      "authorization_show_parts_nosel",
      "authorization_not_owner_drop_tab",
      "authorization_not_owner_drop_view",
      "authorization_droppartition", "authorization_alter_drop_ptn",
      "authorization_addpartition",
      "authorization_not_owner_alter_tab_rename",
      "authorization_not_owner_alter_tab_serdeprop",
      "authorization_truncate", "authorization_truncate_2",
      "authorization_create_tbl", "authorization_ctas",
      "authorization_create_view", "authorization_createview",
      "authorization_alter_db_owner", "authorization_drop_db_empty",
      "authorization_msck", "authorization_rolehierarchy_privs")
    val failures = files.flatMap(f => replayNegative(f).map(f -> _))
    assert(failures.isEmpty, failures.map { case (f, m) =>
      s"$f:\n$m" }.mkString("\n\n"))
  }

  test("a denied table referenced ONLY inside a subquery (IN / " +
      "EXISTS / scalar) is still checked — subquery plans are " +
      "ReadEntities, exactly as the reference's SemanticAnalyzer " +
      "collects them") {
    withEnforcement { h =>
      fresh("sq_pub", "sq_secret")
      h.sql("create table sq_pub(i int)")
      h.sql("create table sq_secret(j int)")
      h.sql("grant select on table sq_pub to user user1")
      h.sql("set user.name=user1")
      // the outer table is granted; only the subquery table is not
      for (q <- Seq(
          "select * from sq_pub where i in (select j from sq_secret)",
          "select * from sq_pub p where exists " +
            "(select 1 from sq_secret s where s.j = p.i)",
          "select i, (select max(j) from sq_secret) m from sq_pub"))
        assert(denialOf(h, q).contains(
          "[SELECT] on Object [type=TABLE_OR_VIEW, " +
            "name=default.sq_secret]"), q)
      h.sql("set user.name=hive_test_user")
      fresh("sq_pub", "sq_secret")
    }
  }

  test("while enforcement is ON, `set user.name` does NOT switch " +
      "identity unless the test-authenticator opt-in conf is set — " +
      "no unauthenticated privilege escalation") {
    spark.conf.set("spark.graft.authorization", "true")
    try {
      val h = new HiveStatements(spark)
      fresh("gate_t")
      h.sql("create table gate_t(i int)") // owner: hive_test_user
      val before = h.auth.currentUser
      h.sql("set user.name=intruder")
      assert(h.auth.currentUser === before,
        "identity must not change without the userswitch opt-in")
      // and the (unchanged) owner can still read their table
      assert(h.sql("select * from gate_t").isDefined)
      fresh("gate_t")
    } finally spark.conf.unset("spark.graft.authorization")
  }

  test("enforcement stays fully off without the conf — the " +
      "bookkeeping surface is unchanged for every existing caller") {
    val h = new HiveStatements(spark)
    fresh("off_t")
    h.sql("create table off_t(i int)")
    h.sql("set user.name=nobody")
    // no exception: enforcement dormant
    assert(h.sql("select * from off_t").get.collect().length === 0)
    h.sql("set user.name=hive_test_user")
    fresh("off_t")
  }

  /** Tables for the MERGE privilege cases: user1 may UPDATE and INSERT
    * into mg_acc2 and read mg_src; mg_acc and mg_secret grant user1
    * nothing. `body` runs as user1. */
  private def mergeTables(body: HiveStatements => Unit): Unit =
    withEnforcement { h =>
      val tables = Seq("mg_acc", "mg_acc2", "mg_src", "mg_secret")
      fresh(tables: _*)
      try {
        tables.foreach(t =>
          h.sql(s"create table $t(k int, v string) stored as parquet"))
        h.sql("insert into mg_acc2 values (1, 'a')")
        h.sql("insert into mg_src values (1, 'b')")
        h.sql("grant update on table mg_acc2 to user user1")
        h.sql("grant insert on table mg_acc2 to user user1")
        h.sql("grant select on table mg_src to user user1")
        h.sql("set user.name=user1")
        body(h)
      } finally {
        h.sql("set user.name=hive_test_user")
        fresh(tables: _*)
      }
    }

  test("MERGE into an AS-aliased target is checked") {
    mergeTables { h =>
      assert(denialOf(h, "merge into mg_acc as t using mg_src s " +
        "on t.k = s.k when matched then update set v = s.v").contains(
        "[UPDATE] on Object [type=TABLE_OR_VIEW, name=default.mg_acc]"))
    }
  }

  test("MERGE needs SELECT on every table its USING subquery reads") {
    mergeTables { h =>
      assert(denialOf(h, "merge into mg_acc2 t using (select k, v from " +
        "mg_secret) s on t.k = s.k when matched then update set v = s.v")
        .contains("[SELECT] on Object [type=TABLE_OR_VIEW, " +
          "name=default.mg_secret]"))
    }
  }

  test("MERGE asks the privileges of its actions, not of words in its " +
      "literals: an UPDATE setting 'delete me' needs no DELETE") {
    mergeTables { h =>
      h.sql("merge into mg_acc2 t using mg_src s on t.k = s.k " +
        "when matched then update set v = 'delete me' " +
        "when not matched then insert values (s.k, s.v)")
      assert(spark.table("mg_acc2").collect().map(_.getString(1)).toSeq ===
        Seq("delete me"))
    }
  }

  test("row-level DML needs SELECT on a table it reads only in a " +
      "subquery: a MERGE SET or ON, an UPDATE SET, a DELETE WHERE") {
    mergeTables { h =>
      h.sql("set user.name=hive_test_user")
      h.sql("grant delete on table mg_acc2 to user user1")
      h.sql("grant select on table mg_acc2 to user user1")
      h.sql("set user.name=user1")
      for (q <- Seq(
          "merge into mg_acc2 t using mg_src s on t.k = s.k when matched " +
            "then update set v = (select max(v) from mg_secret)",
          "merge into mg_acc2 t using mg_src s on t.k = s.k and t.k in " +
            "(select k from mg_secret) when matched then delete",
          "merge into mg_acc2 t using mg_src s on t.k = s.k when matched " +
            "and exists (select 1 from mg_secret) then delete",
          "update mg_acc2 set v = (select max(v) from mg_secret)",
          "delete from mg_acc2 where k in (select k from mg_secret)"))
        assert(denialOf(h, q).contains("[SELECT] on Object " +
          "[type=TABLE_OR_VIEW, name=default.mg_secret]"), q)
      assert(spark.table("mg_acc2").collect().map(_.getString(1)).toSeq ===
        Seq("a"))
    }
  }

  test("MERGE is checked on the text it runs as: a source that Spark's " +
      "grammar reads only after the dialect rewrite (LIMIT o, n) runs") {
    mergeTables { h =>
      h.sql("merge into mg_acc2 t using (select k, v from mg_src " +
        "limit 0, 1) s on t.k = s.k when matched then update set v = s.v")
      assert(spark.table("mg_acc2").collect().map(_.getString(1)).toSeq ===
        Seq("b"))
    }
  }
}
