"""Spark-side function library: Arrow UDFs (``arrow_udf``, Arrow arrays in
and out, no pandas) wrapping the kernel, plus pure-Column expressions for
everything Catalyst can codegen."""
