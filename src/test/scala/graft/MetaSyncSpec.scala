package graft

import org.apache.spark.sql.functions._

import graft.core.{Meta, Sync}
import graft.model.MetaRow

/** Meta KV semantics (`tests/meta_test.cpp:14-230`) + stamp/delta
  * (`delta.cpp`, `database.cpp:288-331`) mirrors.
  */
class MetaSyncSpec extends SparkSuite {
  import spark.implicits._
  implicit private def s = spark

  test("key validation") {
    assert(Meta.isValidKey("annotations"))
    assert(Meta.isValidKey("my-key_2"))
    assert(!Meta.isValidKey("bad key"))
    assert(!Meta.isValidKey(""))
    assert(!Meta.isValidKey("a.b"))
  }

  test("json normalization: bare string re-quoted, valid json kept") {
    assert(Meta.normalizeJson("hello") === "\"hello\"")
    assert(Meta.normalizeJson("{\"a\":1}") === "{\"a\":1}")
    assert(Meta.normalizeJson("[1,2]") === "[1,2]")
    assert(Meta.normalizeJson("42") === "42")
    assert(Meta.normalizeJson("true") === "true")
    assert(Meta.normalizeJson("3.14") === "3.14")
    // int64 fidelity (nlohmann dump parity): integral literals past 2^53
    // keep their exact digits — never 1.0E16 / rounded mantissas
    assert(Meta.normalizeJson("10000000000000000") === "10000000000000000")
    assert(Meta.normalizeJson("{\"n\":10000000000000001}") === "{\"n\":10000000000000001}")
    assert(Meta.normalizeJson("-9223372036854775808") === "-9223372036854775808")
    assert(Meta.normalizeJson("9223372036854775807") === "9223372036854775807")
    // past int64: falls back to Double (nlohmann's unsigned/double ladder)
    assert(Meta.normalizeJson("99999999999999999999") === "1.0E20")
    // malformed structures throw like validateData (meta_test.cpp:188)
    intercept[IllegalArgumentException](Meta.normalizeJson("{\"ciao\":}"))
    // quote-wrap rescue: "[1," re-parses as the JSON string "[1,"
    // (nlohmann does the same — only the second parse failing throws)
    assert(Meta.normalizeJson("[1,") === "\"[1,\"")
    // a bare string with an unescapable quote also throws (the
    // reference wraps WITHOUT escaping and reparses)
    intercept[IllegalArgumentException](Meta.normalizeJson("he\"y"))
    // escape sequences in the raw text are INTERPRETED, exactly like
    // json::parse("\"..\"").dump(): C:\temp stores the TAB form, not
    // a re-escaped literal backslash-t
    assert(Meta.normalizeJson("C:\\temp") === "\"C:\\temp\"")
    assert(graft.core.MiniJson.str(graft.core.MiniJson.parse(Meta.normalizeJson("C:\\temp"))) === "C:\temp")
    assert(Meta.normalizeJson("a\\nb") === "\"a\\nb\"") // \n stays one interpreted newline when re-quoted
    // nlohmann dump parity: valid JSON re-serializes compact with sorted
    // object keys, never verbatim (validateData returns parse(data).dump())
    assert(Meta.normalizeJson("{ \"b\" : 2 ,\n  \"a\" : 1 }") === "{\"a\":1,\"b\":2}")
    assert(Meta.normalizeJson("[ 1 , 2 ]") === "[1,2]")
    // inputs nlohmann rejects must not be stored as raw JSON: a raw control
    // char inside a string and a leading-plus number both fall through to
    // the quote-wrap rescue (control char then fails the rescue parse too)
    intercept[IllegalArgumentException](Meta.normalizeJson("\"a\tb\""))
    assert(Meta.normalizeJson("+1") === "\"+1\"")
  }

  test("plural add appends, singular set replaces") {
    val m0 = Seq.empty[MetaRow].toDF()
    val m1 = Meta.add(m0, Meta.metaRow("a.jpg", "annotations", "\"one\"", 100))
    val m2 = Meta.add(m1, Meta.metaRow("a.jpg", "annotations", "\"two\"", 200))
    assert(m2.count() === 2)
    val m3 = Meta.set(m2, Meta.metaRow("a.jpg", "visibility", "1", 100))
    val m4 = Meta.set(m3, Meta.metaRow("a.jpg", "visibility", "2", 200))
    assert(m4.filter($"key" === "visibility").count() === 1)
    assert(m4.filter($"key" === "visibility").select("data").head().getString(0) === "2")
    intercept[IllegalArgumentException] {
      Meta.add(m0, Meta.metaRow("a.jpg", "visibility", "1", 100)) // singular key can't add
    }
  }

  test("unset and removeById") {
    val row = Meta.metaRow("a.jpg", "visibility", "1", 100)
    val m = Meta.set(Seq.empty[MetaRow].toDF(), row)
    assert(Meta.unset(m, "a.jpg", "visibility").count() === 0)
    assert(Meta.removeById(m, row.id).count() === 0)
    assert(Meta.removeById(m, "nope").count() === 1)
  }

  test("per-path meta JSON: plural -> array, singular -> object") {
    val m = Seq(
      Meta.metaRow("a.jpg", "annotations", "\"x\"", 100),
      Meta.metaRow("a.jpg", "annotations", "\"y\"", 200),
      Meta.metaRow("a.jpg", "visibility", "2", 150)
    ).toDF()
    val json = Meta.perPathJson(m).filter($"path" === "a.jpg").select("meta").head().getString(0)
    // plural key wrapped in [...], singular bare object; keys sorted
    assert(json.startsWith("{\"annotations\":["))
    assert(json.contains("\"visibility\":{\"data\":2"))
    // valid JSON shape check via Spark's parser
    val parsed = spark.range(1).select(get_json_object(lit(json), "$.visibility.data").as("v")).head().getString(0)
    assert(parsed === "2")
  }

  test("restore: newest mtime wins") {
    val current = Seq(Meta.metaRow("a.jpg", "visibility", "1", 100)).toDF()
    val incoming = Seq(Meta.metaRow("a.jpg", "visibility", "2", 300)).toDF()
    val merged = Meta.restore(current, incoming)
    // different ids (content-addressed) -> both survive as distinct ids;
    // same id conflict -> newest wins. Test same-id case:
    val rowOld = MetaRow("id1", "a.jpg", "visibility", "1", 100)
    val rowNew = MetaRow("id1", "a.jpg", "visibility", "2", 300)
    val m2 = Meta.restore(Seq(rowOld).toDF(), Seq(rowNew).toDF())
    assert(m2.count() === 1)
    assert(m2.select("data").head().getString(0) === "2")
  }

  test("stamp checksum is order-stable and content-sensitive") {
    val e1 = Seq(("a.jpg", "h1"), ("b.jpg", "h2")).toDF("path", "hash")
    val e1shuffled = Seq(("b.jpg", "h2"), ("a.jpg", "h1")).toDF("path", "hash")
    val m = Seq.empty[MetaRow].toDF().select("id")
    val c1 = Sync.stampChecksum(e1, Seq.empty[MetaRow].toDF())
    val c2 = Sync.stampChecksum(e1shuffled, Seq.empty[MetaRow].toDF())
    assert(c1 === c2) // row order irrelevant: fold is in path order
    val e2 = Seq(("a.jpg", "h1"), ("b.jpg", "DIFFERENT")).toDF("path", "hash")
    assert(Sync.stampChecksum(e2, Seq.empty[MetaRow].toDF()) !== c1)
  }

  test("stamp folds (path, hash) in path order, then meta ids in id order, in one sort stream") {
    val entries = Seq(("b.jpg", "h2"), ("a.jpg", "h1"), ("dir", "")).toDF("path", "hash")
    val meta = Seq(MetaRow("m2", "a.jpg", "k", "1", 1L), MetaRow("m1", "b.jpg", "k", "2", 1L)).toDF()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Seq("a.jpg", "h1", "b.jpg", "h2", "dir", "", "m1", "m2").foreach(s => md.update(s.getBytes("UTF-8")))
    val (got, probe) = JobProbe(spark)(Sync.stampChecksum(entries, meta))
    assert(got === md.digest().map("%02x".format(_)).mkString)
    assert(probe.jobs <= 4, probe)
  }

  test("delta adds/removes semantics") {
    val dest = Seq(("a.jpg", "h1"), ("b.jpg", "h2"), ("dir", ""), ("dir/c.jpg", "h3")).toDF("path", "hash")
    val source = Seq(("a.jpg", "h1"), ("b.jpg", "MODIFIED"), ("dir", ""), ("new.jpg", "h9")).toDF("path", "hash")
    val adds = Sync.deltaAdds(source, dest).collect().map(_.getString(0)).toSet
    assert(adds === Set("b.jpg", "new.jpg")) // modified + new
    val removes = Sync.deltaRemoves(source, dest).collect().map(_.getString(0))
    assert(removes.toSet === Set("dir/c.jpg")) // b.jpg still exists as file on source side
  }

  test("delta removes order deepest-first") {
    val dest = Seq(("d", ""), ("d/sub", ""), ("d/sub/f.jpg", "h")).toDF("path", "hash")
    val source = Seq(("x.jpg", "h0")).toDF("path", "hash")
    val removes = Sync.deltaRemoves(source, dest).collect().map(_.getString(0)).toSeq
    assert(removes === Seq("d/sub/f.jpg", "d/sub", "d"))
  }

  test("meta id set differences") {
    val src = Seq("i1", "i2", "i3").toDF("id")
    val dst = Seq("i2", "i4").toDF("id")
    assert(Sync.metaAdds(src, dst).collect().map(_.getString(0)).toSet === Set("i1", "i3"))
    assert(Sync.metaRemoves(src, dst).collect().map(_.getString(0)).toSet === Set("i4"))
  }

  test("applyDelta: conflict strategies") {
    val local = Seq(("a.jpg", "LOCAL"), ("keep.jpg", "k")).toDF("path", "hash")
    val adds = Seq(("a.jpg", "REMOTE"), ("new.jpg", "n")).toDF("path", "hash")
    val removes = Seq(Tuple1("keep.jpg")).toDF("path")
    intercept[IllegalStateException] {
      Sync.applyDelta(local, adds, removes, Sync.DontMerge).collect()
    }
    val ours = Sync.applyDelta(local, adds, removes, Sync.KeepOurs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ours === Map("a.jpg" -> "LOCAL", "new.jpg" -> "n"))
    val theirs = Sync.applyDelta(local, adds, removes, Sync.KeepTheirs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(theirs === Map("a.jpg" -> "REMOTE", "new.jpg" -> "n"))
  }

  test("status classification incl. mtime short-circuit") {
    val index = Seq(("a.jpg", 100L, "h1"), ("b.jpg", 100L, "h2"), ("gone.jpg", 100L, "h3"))
      .toDF("path", "mtime", "hash")
    val fs = Seq(
      ("a.jpg", 100L, null.asInstanceOf[String]), // same mtime: not_modified without hashing
      ("b.jpg", 200L, "h2"), // mtime differs, hash same: not_modified
      ("new.jpg", 300L, "hx")
    ).toDF("path", "mtime", "hash")
    val st = Sync.status(index, fs).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(st === Map(
      "a.jpg" -> "not_modified",
      "b.jpg" -> "not_modified",
      "gone.jpg" -> "deleted",
      "new.jpg" -> "not_indexed"
    ))
  }
}
