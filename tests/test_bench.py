"""The textops replica marker in ``bench.py``."""

from bench import replica_text


def test_replica_text_marks_every_seventh_word(spark):
    words = " ".join(f"w{i}" for i in range(1, 16))
    df = spark.createDataFrame(
        [(0, ""), (1, "A b  c"), (2, words)], "doc_id int, text string"
    ).selectExpr("doc_id", "text", "1 AS _rep")
    got = {
        r["doc_id"]: r["t"]
        for r in df.select("doc_id", replica_text("text", "_rep").alias("t"))
        .collect()
    }
    assert got[0] == ""
    assert got[1] == "a b c xrep1x"
    first, second = " ".join(words.split()[:7]), " ".join(words.split()[7:14])
    assert got[2] == f"{first} xrep1x {second} xrep1x w15 xrep1x"
