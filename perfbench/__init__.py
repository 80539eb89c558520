"""Stock-ETL benchmark (see README.md)."""
