from newyork_taxi_etl_spark.sources.readers import (  # noqa: F401
    load_tables,
    read_taxi_raw,
    read_zones_csv,
    register_views,
    table,
)
from newyork_taxi_etl_spark.sources.writers import (  # noqa: F401
    write_partitioned,
    write_zordered_approx,
)
