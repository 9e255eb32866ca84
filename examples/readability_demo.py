"""The reference's readability example (examples/readability.rs), via
the ported pipeline. Run: python examples/readability_demo.py <file>"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))  # run from anywhere

from nipper_spark.functions.readability import extract_article
from nipper_spark.sources.synthetic import reference_page

path = sys.argv[1] if len(sys.argv) > 1 else reference_page("wisburg.html")
rec = extract_article(open(path, encoding="utf-8").read())
print("title:", rec["title"])
print("author:", rec["author"])
print("cover:", rec["cover"])
print(rec["content_text"][:500])
