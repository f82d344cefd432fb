"""website-indexer-spark: a BFS superstep web crawler and indexer on
Apache Spark, with a snapshot-versioned parquet store and its viewer.

Importing the package (which every Spark Python worker does when it
unpickles one of the package's functions) installs the zip-import
directory cache of ``zipcache`` on Python 3.10-3.12.
"""

from website_indexer_spark import zipcache

zipcache.install()
