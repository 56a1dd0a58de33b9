from ml_data_wrangler_spark.sources.readers import (  # noqa: F401
    read_comment_files,
    read_table,
    read_tickets,
)
from ml_data_wrangler_spark.sources.sinks import (  # noqa: F401
    write_corpus_json,
    write_processed_tickets_json,
)
