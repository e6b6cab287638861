from dynamic_etl_spark.io.queue import FileQueue, PoisonPill, SkipRetry  # noqa: F401
from dynamic_etl_spark.io.sinks import (  # noqa: F401
    rotate_current_to_archive,
    write_csv,
    write_jdbc,
    write_staging_swap,
)
from dynamic_etl_spark.io.sources import (  # noqa: F401
    NULL_SENTINELS,
    latest_file,
    list_dir_diagnostics,
    read_csv_schema_on_read,
    read_jdbc,
    read_table,
    resolve_file,
)
from dynamic_etl_spark.io.versioned import (  # noqa: F401
    ConcurrentWriteError,
    latest_version,
    read_versioned,
    vacuum,
    write_versioned,
)
