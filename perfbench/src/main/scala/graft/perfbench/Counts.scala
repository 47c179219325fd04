package graft.perfbench

import org.apache.spark.sql.connector.catalog.Identifier

/** `--workload counts`: storage calls per statement on local storage,
  * through the same counting seam the traced runs use, for the
  * statements whose counts were first taken with a scratch decorator
  * (ROADMAP §2). Each statement runs twice; the second run is counted.
  * Not a timed workload: it prints one line per statement and exits.
  */
object Counts {
  /** statement -> storage calls the scratch decorator counted. */
  val Reference = Seq(
    "SELECT *" -> "16",
    "single-row INSERT" -> "28",
    "CREATE TABLE" -> "93 (10-100 tables) to 105 (400-1000 tables)",
    "tableExists" -> "8-9")

  def run(env: Env, tables: Int): Seq[(String, Map[String, Double], String)] = {
    val s = env.newSession()
    val cat = Catalogs.attach(s, env.work.resolve(s"counts-$tables").toString,
      objectStore = false, 0, traced = true)
    s.sql(s"CREATE NAMESPACE ${Catalogs.Name}.c")
    (0 until tables).foreach(i => s.sql(s"CREATE TABLE ${Catalogs.Name}.c.f$i (id INT)"))
    s.sql(s"INSERT INTO ${Catalogs.Name}.c.f0 VALUES (1)")
    var n = 0
    def counted(f: => Unit): Map[String, Double] = {
      f
      n += 1
      val t = Trace.begin(-n, "counts", write = false)
      try f finally Trace.end(t, keep = false)
      t.counts.toMap
    }
    val ref = Reference.toMap
    Seq(
      ("SELECT *", counted(s.sql(s"SELECT * FROM ${Catalogs.Name}.c.f0").collect())),
      ("single-row INSERT", counted(s.sql(s"INSERT INTO ${Catalogs.Name}.c.f0 VALUES (2)"))),
      ("CREATE TABLE", {
        var k = 0
        counted { k += 1; s.sql(s"CREATE TABLE ${Catalogs.Name}.c.g$k (id INT)") }
      }),
      ("tableExists", counted(cat.tableExists(Identifier.of(Array("c"), "f0"))))
    ).map { case (what, c) => (what, c, ref(what)) }
  }
}
