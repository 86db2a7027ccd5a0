package graft

/** HPL/SQL procedural layer — the reference's fourth entry point
  * (`bin/hplsql`, hplsql/src/main/java/org/apache/hive/hplsql/
  * Exec.java). Scripts mirror the reference's own local tests
  * (hplsql/src/test/queries/local); expected PRINT output matches
  * the recorded `.out.txt` files minus their `Ln:` trace lines. */
class HplsqlSpec extends SparkSpec {

  private def run(script: String): Seq[String] =
    new Hplsql(new HiveStatements(spark)).run(script)

  test("for_range.sql: range loops with REVERSE and BY; the loop " +
      "variable shadows and restores the outer binding") {
    val out = run("""
      DECLARE i INT = 3;
      PRINT i;
      FOR i IN 1..10 LOOP
        PRINT i;
      END LOOP;
      PRINT i;
      FOR i IN REVERSE 1..10 LOOP
        PRINT i;
      END LOOP;
      PRINT i;
      FOR i IN 1..10 BY 2 LOOP
        PRINT i;
      END LOOP;
      PRINT i;""")
    val want = Seq("3") ++ (1 to 10).map(_.toString) ++ Seq("3") ++
      (10 to 1 by -1).map(_.toString) ++ Seq("3") ++
      (1 to 10 by 2).map(_.toString) ++ Seq("3")
    assert(out === want)
  }

  test("if.sql core: IF/ELSIF/ELSE with SQL conditions (BETWEEN, " +
      "IS NOT NULL) — the reference's recorded branch choices") {
    val out = run("""
      DECLARE state VARCHAR;
      DECLARE count INT;
      SET state = 'CA';
      SET count = 1;
      IF count = 1 THEN
        PRINT 'True block - Correct';
      END IF;
      IF state = 'MA' THEN
        PRINT 'True block - Incorrect';
      ELSE
        PRINT 'False block - Correct';
      END IF;
      IF count = 4 THEN
        PRINT 'A';
      ELSIF count = 3 THEN
        PRINT 'B';
      ELSIF count = 1 THEN
        PRINT 'C - Correct';
      ELSE
        PRINT 'D';
      END IF;
      IF 1 IS NOT NULL AND 1 BETWEEN 0 AND 100 THEN
        PRINT 'True block - Correct';
      ELSE
        PRINT 'False block - Incorrect';
      END IF;""")
    assert(out === Seq("True block - Correct", "False block - Correct",
      "C - Correct", "True block - Correct"))
  }

  test("while.sql: LOOP and DO forms count down; EXIT WHEN breaks") {
    val out = run("""
      DECLARE count INT DEFAULT 7;
      WHILE count <> 0 LOOP
        PRINT count;
        count := count - 1;
      END LOOP;
      SET count = 7;
      WHILE count <> 0 DO
        PRINT count;
        SET count = count - 1;
      END WHILE;
      SET count = 0;
      WHILE 1 = 1 LOOP
        SET count = count + 1;
        PRINT count;
        EXIT WHEN count >= 3;
      END LOOP;
      PRINT 'done';""")
    val down = (7 to 1 by -1).map(_.toString)
    assert(out === down ++ down ++ Seq("1", "2", "3", "done"))
  }

  test("declare.sql + assign.sql: anonymous block header, multi-name " +
      "declarations, :=/=/SET assignment forms, tuple SET") {
    val h = new Hplsql(new HiveStatements(spark))
    val out = h.run("""
      DECLARE
        code CHAR(10);
        status INT := 1;
        count SMALLINT = 0;
        limit INT DEFAULT 100;
      BEGIN
        status := 2;
      END;
      DECLARE status2, status3 INT DEFAULT 1;
      code := 'A';
      status2 = 5;
      SET code = 'B';
      SET status3 = 1, count = 3;
      SET (count, limit) = (4, 400);
      PRINT code;
      PRINT status;
      PRINT count;
      PRINT limit;""")
    assert(out === Seq("B", "2", "4", "400"))
    assert(h.variable("status2").contains(5))
  }

  test("exception: BEGIN ... EXCEPTION WHEN OTHERS THEN handler " +
      "runs on a raised error, skipped otherwise") {
    val out = run("""
      BEGIN
        PRINT 'Correct';
        SELECT broken syntax here from;
        PRINT 'Incorrect - unreachable';
      EXCEPTION WHEN OTHERS THEN
        PRINT 'Correct - Exception raised';
      END;
      BEGIN
        PRINT 'clean body';
      EXCEPTION WHEN OTHERS THEN
        PRINT 'Incorrect - no exception';
      END;""")
    assert(out === Seq("Correct", "Correct - Exception raised",
      "clean body"))
  }

  test("cursor FOR loop + SELECT INTO + EXECUTE IMMEDIATE delegate " +
      "to the SQL engine (rec.col bindings per row)") {
    spark.sql("DROP TABLE IF EXISTS hpl_t")
    val h = new HiveStatements(spark)
    val interp = new Hplsql(h)
    val out = interp.run("""
      CREATE TABLE hpl_t (k INT, v STRING) STORED AS PARQUET;
      INSERT INTO hpl_t VALUES (1, 'a'), (2, 'b'), (3, 'c');
      DECLARE total INT DEFAULT 0;
      DECLARE label STRING;
      FOR rec IN (SELECT k, v FROM hpl_t ORDER BY k) LOOP
        PRINT rec.v;
        total := total + rec.k;
      END LOOP;
      PRINT total;
      SELECT v INTO label FROM hpl_t WHERE k = 2;
      PRINT label;
      EXECUTE IMMEDIATE 'INSERT INTO hpl_t VALUES (4, ' || '''d'')';
      SELECT count(*) INTO total FROM hpl_t;
      PRINT total;""")
    assert(out === Seq("a", "b", "c", "6", "b", "4"))
    spark.sql("DROP TABLE IF EXISTS hpl_t")
  }

  test("create_procedure.sql: OUT parameter writes back to the " +
      "caller's variable through CALL") {
    val out = run("""
      CREATE PROCEDURE set_message(IN name STRING, OUT result STRING)
      BEGIN
        SET result = 'Hello, ' || name || '!';
      END;
      DECLARE str STRING;
      CALL set_message('world', str);
      PRINT str;""")
    assert(out === Seq("Hello, world!"))
  }

  test("create_function.sql: RETURN exits the body early and the " +
      "value substitutes into the calling expression") {
    val out = run("""
      CREATE FUNCTION hello()
       RETURNS STRING
      BEGIN
       PRINT 'Start';
       RETURN 'Hello, world';
       PRINT 'Must not be printed';
      END;
      PRINT hello() || '!';
      PRINT 'End of script';""")
    assert(out === Seq("Start", "Hello, world!", "End of script"))
  }

  test("create_procedure_no_params.sql: CALL name / name() / bare " +
      "name all invoke; parameters shadow and restore caller " +
      "variables") {
    val out = run("""
      create procedure sp1
      begin
        print 'a';
      end;
      create procedure sp2()
      begin
        print 'b';
      end;
      call sp1;
      call sp1();
      sp1;
      sp1();
      call sp2;
      sp2();
      DECLARE x INT DEFAULT 99;
      CREATE PROCEDURE shadow(IN x INT)
      BEGIN
        PRINT x;
      END;
      CALL shadow(5);
      PRINT x;""")
    assert(out === Seq("a", "a", "a", "a", "b", "b", "5", "99"))
  }

  test("functions with arguments compose with SQL expressions and " +
      "other statements; CASE expressions inside bodies don't " +
      "unbalance block parsing") {
    val out = run("""
      CREATE FUNCTION grade(score INT)
        RETURNS STRING
      BEGIN
        DECLARE g STRING;
        SET g = CASE WHEN score >= 90 THEN 'A'
                     WHEN score >= 80 THEN 'B'
                     ELSE 'C' END;
        RETURN g;
      END;
      IF 1 = 1 THEN
        PRINT grade(95) || grade(85) || grade(10);
      END IF;
      DECLARE total INT DEFAULT 0;
      FOR i IN 1..3 LOOP
        IF grade(i * 30) = 'A' THEN
          total := total + 1;
        END IF;
      END LOOP;
      PRINT total;""")
    assert(out === Seq("ABC", "1"))
  }

  test("explicit cursors: the reference's cursor_attributes.sql " +
      "(queries/db) replays against its recording — DECLARE CURSOR " +
      "IS, OPEN/FETCH/CLOSE, %ISOPEN/%FOUND/%NOTFOUND incl. the " +
      "NULL-before-first-FETCH states") {
    spark.sql("DROP TABLE IF EXISTS src")
    spark.sql("CREATE TABLE src (key STRING, value STRING)")
    spark.sql("INSERT INTO src VALUES ('238', 'val_238')")
    val qf = new java.io.File(
      s"${Reference.Root}/hplsql/src/test/queries/db/cursor_attributes.sql")
    val script = {
      val s = scala.io.Source.fromFile(qf, "UTF-8")
      try s.mkString finally s.close()
    }
    val want = {
      val s = scala.io.Source.fromFile(new java.io.File(
        s"${Reference.Root}/hplsql/src/test/results/db/" +
          "cursor_attributes.out.txt"), "UTF-8")
      try s.getLines().filterNot(_.startsWith("Ln:")).toVector
      finally s.close()
    }
    assert(run(script) === want)
    spark.sql("DROP TABLE IF EXISTS src")
  }

  test("variables substitute into embedded SQL statements as " +
      "literals (Exec.java interpolation), leaving string bodies " +
      "untouched") {
    spark.sql("DROP TABLE IF EXISTS hpl_s")
    val out = run("""
      CREATE TABLE hpl_s (k INT, v STRING) STORED AS PARQUET;
      DECLARE lo INT DEFAULT 2;
      DECLARE tag STRING DEFAULT 'lo';
      INSERT INTO hpl_s VALUES (1, 'lo'), (2, 'hi'), (3, 'lo');
      FOR r IN (SELECT k FROM hpl_s WHERE k >= lo AND v <> tag
                ORDER BY k) LOOP
        PRINT r.k;
      END LOOP;""")
    assert(out === Seq("2"))
    spark.sql("DROP TABLE IF EXISTS hpl_s")
  }
}
