from ._archives import pin_spark_archives

# every rasterkit UDF unpickles through this package on the worker, so
# this runs once per Python worker process (see _archives)
pin_spark_archives()
