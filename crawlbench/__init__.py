"""Crawl-round benchmark for ``CrawlEngine.run_rounds`` (see README.md)."""
