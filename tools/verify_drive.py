"""The /verify skill's end-to-end drive: extraction byte-parity vs
the synth ground truth at sf0.001 (one session, local[4])."""
import sys, os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from ocr_compare_spark.session import get_spark
from ocr_compare_spark import synth
from ocr_compare_spark.operators.extract import run_engines_fused
from pyspark.sql import functions as F

spark = get_spark(master="local[4]", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")
pages = synth.pages_from_documents(spark, "/root/testdata/sf0.001")
res = run_engines_fused(pages)
got = {(r.doc_id, r.engine): r.doc_text for r in
       res.withColumn("doc_id", F.regexp_extract("url", r"(\d+)$", 1).cast("long"))
          .select("doc_id", "engine", "doc_text").collect()}
docs = {r.doc_id: r.text for r in
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet").collect()}
fns = {"dom": synth.expected_dom_text, "density": synth.expected_density_text,
       "pdf": synth.expected_pdf_text}
bad = sum(1 for (d, e), t in got.items() if t != fns[e](docs[d], d))
print(f"VERIFY-DRIVE rows={len(got)} byte_mismatches={bad}")
spark.stop()
sys.exit(1 if bad or not got else 0)
