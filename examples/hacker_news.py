"""The reference's flagship example (examples/hacker_news.rs), on this
engine — both the in-UDF kernel form and the distributed form.

Run: python examples/hacker_news.py
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))  # run from anywhere

from nipper_spark import Document
from nipper_spark.sources.synthetic import reference_page

html = open(reference_page("hacker_news.html"), encoding="utf-8").read()
document = Document.from_html(html)

# kernel form — line-for-line the reference example
for athing in document.select("tr.athing").iter():
    title = athing.select(".title a")
    href = athing.select(".storylink")
    print(title.text())
    print(href.attr("href"))
    print()

# distributed form — the same query over a pages table
if __name__ == "__main__" and False:  # flip on under a SparkSession
    from nipper_spark.functions.html_udfs import hacker_news_stories
    from nipper_spark.session import build_session
    spark = build_session()
    pages = spark.read.parquet("pages/")
    hacker_news_stories(pages).show()
