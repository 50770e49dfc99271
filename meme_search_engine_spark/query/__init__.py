"""Query engines: batch BM25 and WAND on Spark, and driver-local
serving over HTTP.  Import the submodules directly; the serving
modules (`serve`, `http_server`, `mp_server`) load no Spark."""
