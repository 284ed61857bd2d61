import sys, traceback
from pathlib import Path
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
from pyspark.sql import SparkSession
try:
    spark = (SparkSession.builder.master('local[2]').appName('iceberg-attempt')
             .config('spark.jars.packages',
                     'org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0')
             .config('spark.sql.catalog.ice', 'org.apache.iceberg.spark.SparkCatalog')
             .config('spark.sql.catalog.ice.type', 'hadoop')
             .config('spark.sql.catalog.ice.warehouse', '/tmp/ice_wh')
             .getOrCreate())
    spark.sql('CREATE TABLE ice.t (id BIGINT) USING iceberg')
    print('ICEBERG_OK')
except Exception as e:
    traceback.print_exc()
    print('ICEBERG_ATTEMPT_FAILED:', type(e).__name__)
