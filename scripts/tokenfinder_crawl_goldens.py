#!/usr/bin/env python
"""Write tests/goldens_tokenfinder_crawl.json: url -> the path the in-process
token-density finder elects ('' for none) on the crawl-shaped pages that
``tokenfinder_real_paths`` runs over without the reference checkout.

These are characterisation goldens, not reference truth: regenerate only
when a change of election is intended.

Usage: python scripts/tokenfinder_crawl_goldens.py"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from readability_spark.core.tokenfinder import find_article_path

if __name__ == "__main__":
    gold = {url: find_article_path(html) or "" for url, html in entrymod._tokenfinder_crawl_pages()}
    with open(entrymod._TOKENFINDER_CRAWL_GOLDENS, "w") as f:
        json.dump(gold, f, indent=1)
        f.write("\n")
    print(f"{len(gold)} pages -> {entrymod._TOKENFINDER_CRAWL_GOLDENS}")
