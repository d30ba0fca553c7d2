# Runnable-container recipe mirroring the reference's deployment story
# (/root/reference/Dockerfile:1-24: slim Python base + deps + CMD job).
# The Spark engine needs a JVM instead of a Postgres client; everything
# else — copy the project, install deps, run the pipeline on start — is
# the same shape.
FROM python:3.11-slim

# Spark 4 needs Java 17+
RUN apt-get update \
    && apt-get install -y --no-install-recommends openjdk-17-jre-headless \
    && rm -rf /var/lib/apt/lists/*
ENV JAVA_HOME=/usr/lib/jvm/java-17-openjdk-amd64

WORKDIR /app
COPY pyproject.toml README.md /app/
COPY etl_example_spark/ /app/etl_example_spark/
RUN pip install --no-cache-dir /app
# the driver JVM's class-data-sharing archive, written once here so every
# container's session starts from it (README "Cold start")
RUN python -c "from etl_example_spark.session import write_class_archive; print(write_class_archive())"

# local[*] inside the container; on a cluster, spark-submit this image's
# package with --master yarn/k8s instead and the same code runs unchanged
CMD ["python", "-m", "etl_example_spark"]
