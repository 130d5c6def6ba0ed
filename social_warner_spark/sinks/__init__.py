from social_warner_spark.sinks.writers import WriteDisposition, write_table

__all__ = ["WriteDisposition", "write_table"]
