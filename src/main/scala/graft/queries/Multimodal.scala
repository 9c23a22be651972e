package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal column handling — SURVEY.md §2.B B47 plus the binary-payload
  * pipeline a training-data system needs: opaque `binary` columns with
  * typed metadata, batch decode via `mapPartitions`, and frame sampling.
  *
  * Both decode queries are REAL codec paths with no external libraries:
  * `multimodal_image_decode` roundtrips PNGs through the JDK's own
  * `javax.imageio`, and `multimodal_binary_decode` roundtrips WAV audio
  * through `javax.sound.sampled` — synthesized PCM in, WAV container out,
  * decoded format/frame-count back. The oracles verify roundtrip fidelity
  * (decode(encode(x)) == x), not a copy of the Spark expression.
  */
object Multimodal {
  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  /** The platform's WAVE codec providers, resolved ONCE per task through
    * the public `javax.sound.sampled.spi` ServiceLoader surface. The
    * `AudioSystem.write` / `getAudioInputStream` facade re-resolves the
    * provider registry on EVERY call through a synchronized JDK-internal
    * lookup (`JDK13Services`) — measured on this box: 5000 driver-side
    * encode+decode calls take 0.5 s single-threaded, but the same count
    * spread over 32 concurrent tasks took ~3.4 s wall because every call
    * serializes on that global lock. Hoisting the provider list to one
    * ServiceLoader call per partition keeps the REAL JDK codec classes
    * (the loader returns the same `com.sun.media.sound` implementations
    * the facade would pick) and removes the per-row registry scan —
    * guide §4.5, heavyweight state once per task, not per row. Both
    * helpers fall back to the facade if the loader surfaces nothing.
    */
  private[graft] def waveWriter(): javax.sound.sampled.AudioInputStream
      => Array[Byte] = {
    import scala.jdk.CollectionConverters._
    val wavType = javax.sound.sampled.AudioFileFormat.Type.WAVE
    val w = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter],
        ClassLoader.getPlatformClassLoader)
      .asScala.find(_.isFileTypeSupported(wavType))
    src => {
      val baos = new java.io.ByteArrayOutputStream()
      w match {
        case Some(writer) => writer.write(src, wavType, baos)
        case None => javax.sound.sampled.AudioSystem.write(src, wavType, baos)
      }
      baos.toByteArray
    }
  }

  private[graft] def waveReader(): Array[Byte]
      => javax.sound.sampled.AudioInputStream = {
    import scala.jdk.CollectionConverters._
    val readers = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader],
        ClassLoader.getPlatformClassLoader)
      .asScala.toSeq
    bytes => {
      // AudioSystem.getAudioInputStream's own strategy: first reader
      // that accepts the payload wins; mismatched readers signal by
      // UnsupportedAudioFileException exactly as under the facade
      val it = readers.iterator
      var out: javax.sound.sampled.AudioInputStream = null
      while (out == null && it.hasNext) {
        val r = it.next()
        try out = r.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => ()
        }
      }
      if (out != null) out
      else javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
    }
  }

  /** One real PNG FILE per document, staged once per (documents, sfDir)
    * behind a source-fingerprint stamp — the media directory
    * `scan_binaryfile` scans. Executor-side writes go through the
    * Hadoop FileSystem API (the same client XmlIngest uses), so the
    * write path is cluster-correct, not driver-local. Registered in
    * SparkEntry.stagers: the driver's single-run bench sweep must not
    * pay the one-time file writes inside scan_binaryfile's timed
    * window.
    */
  def ensureStaged(s: SparkSession, d: String): String = {
    import s.implicits._
    graft.Staging.layout(s, "graft_binfiles", d,
        s"$d/documents.parquet") { dir =>
      // session hadoop conf, broadcast: a fresh empty Configuration would
      // drop user filesystem settings on a non-local staging dir
      val hconf = graft.HadoopConf.broadcast(s)
      t(s, d, "documents").select(col("doc_id")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .foreachPartition { (it: Iterator[Long]) =>
          javax.imageio.ImageIO.setUseCache(false)
          val fs = new org.apache.hadoop.fs.Path(dir)
            .getFileSystem(hconf.value.value)
          fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
          it.foreach { id =>
            val w = (id % 16 + 1).toInt; val h = (id % 12 + 1).toInt
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            img.setRGB(0, 0, (id % 0xffffff).toInt)
            val out = fs.create(
              new org.apache.hadoop.fs.Path(dir, s"img_$id.png"), true)
            try javax.imageio.ImageIO.write(img, "png", out)
            finally out.close()
          }
        }
    }
  }

  /** Packed-shard layout for the SAME PNGs `ensureStaged` writes one file
    * each: `PackShards` concatenated blob files (`shard_k.bin`, doc_id
    * mod-sharded, offsets assigned in ascending doc order so the layout
    * is deterministic) plus a parquet offset index (fname, shard, offset,
    * len). This is the WebDataset/tar-shard shape — the 100-TB answer to
    * the file-per-image tax measured on `scan_binaryfile` (~2.3 ms/file
    * of open+listing overhead at 5k files; at 500k files the driver's
    * file listing alone dominates): listing cost goes from O(images) to
    * O(shards), and each task streams ONE sequential file instead of
    * opening thousands. Staged once per (documents, sfDir) behind the
    * same fingerprint stamp; the per-shard id sort is staging-only
    * fixture code (bounded by the synthetic corpus), not the scan path.
    */
  private[graft] val PackShards = 8

  def ensurePackedStaged(s: SparkSession, d: String): String =
    graft.Staging.layout(s, "graft_binpacked", d,
      s"$d/documents.parquet")(writePacked(s, d, _))

  /** Write the packed shards and their offset index into `dir` (over
    * whatever a lost attempt left there). Each blob goes through
    * `graft.fs.AttemptFile`: a second attempt never truncates a blob
    * whose offsets the index already holds, and content is deterministic
    * (same sorted ids, same encoder), so whichever attempt wins, the
    * offsets agree.
    */
  private[graft] def writePacked(s: SparkSession, d: String,
      dir: String): Unit = {
    import s.implicits._
    val shards = PackShards
    val hconf = graft.HadoopConf.broadcast(s)
    val idx = t(s, d, "documents").select(col("doc_id")).as[Long]
      .groupByKey(id => (id % shards).toInt)
      .flatMapGroups { (shard, rows) =>
        javax.imageio.ImageIO.setUseCache(false)
        val root = new org.apache.hadoop.fs.Path(dir)
        graft.fs.AttemptFile.write(root.getFileSystem(hconf.value.value),
            root, s"shard_$shard.bin") { out =>
          var offset = 0L
          rows.toArray.sorted.map { id =>
            val w = (id % 16 + 1).toInt; val h = (id % 12 + 1).toInt
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            img.setRGB(0, 0, (id % 0xffffff).toInt)
            val baos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", baos)
            val bytes = baos.toByteArray
            out.write(bytes)
            val e = (s"img_$id.png", shard, offset, bytes.length)
            offset += bytes.length
            e
          }
        }.iterator
      }
      .toDF("fname", "shard", "offset", "len")
    idx.write.mode("overwrite").parquet(s"$dir/index")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The packed-shard twin of scan_binaryfile: identical decoded output
    // from a layout that survives 100 TB. The scan is driven by the
    // OFFSET INDEX (a normal parquet scan — prunable, splittable), hash-
    // distributed by shard so each task touches one blob file; rows are
    // sorted by offset within the partition so the reads walk each shard
    // forward (positional reads against one open stream — no per-image
    // file open, no O(images) listing). Decode fidelity is proven by the
    // same closed-form oracle as scan_binaryfile: a green row means
    // pack → index → positional read → decode reproduced every (w, h).
    "scan_binary_packed" -> ((s, d) => {
      import s.implicits._
      val dir = ensurePackedStaged(s, d)
      val hconf = graft.HadoopConf.broadcast(s)
      s.read.parquet(s"$dir/index")
        .repartition(PackShards, col("shard"))
        .sortWithinPartitions("shard", "offset")
        .select(col("fname"), col("shard"), col("offset"), col("len"))
        .as[(String, Int, Long, Int)]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          val conf = hconf.value.value
          var openShard = -1
          var in: org.apache.hadoop.fs.FSDataInputStream = null
          val decoded = it.map { case (fname, shard, offset, len) =>
            if (shard != openShard) {
              if (in != null) in.close()
              val p = new org.apache.hadoop.fs.Path(dir, s"shard_$shard.bin")
              in = p.getFileSystem(conf).open(p)
              openShard = shard
            }
            val buf = new Array[Byte](len)
            in.readFully(offset, buf, 0, len)
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(buf))
            (fname, img.getWidth, img.getHeight)
          }
          // close the last open shard stream when the partition drains
          new Iterator[(String, Int, Int)] {
            override def hasNext: Boolean = {
              val h = decoded.hasNext
              if (!h && in != null) { in.close(); in = null }
              h
            }
            override def next(): (String, Int, Int) = decoded.next()
          }
        }
        .toDF("fname", "width", "height")
        .orderBy("fname")
    }),

    // The binaryFile SOURCE — how a multimodal corpus actually arrives:
    // a directory of opaque media files, not rows. Real PNG files are
    // staged once (executor-side writes through the Hadoop FileSystem
    // API, the same client XmlIngest uses, so the write path is
    // cluster-correct), then `format("binaryFile")` scans them —
    // (path, length, content) rows with partition-parallel file reads
    // and a pushed pathGlobFilter — and a per-partition codec loop
    // decodes the content column back to typed dimensions. The oracle
    // recomputes the expected (fname, w, h) from the deterministic
    // generator: a green row proves file write → binaryFile scan →
    // decode fidelity end-to-end, not just schema plumbing.
    "scan_binaryfile" -> ((s, d) => {
      import s.implicits._
      val dir = ensureStaged(s, d)
      s.read.format("binaryFile").option("pathGlobFilter", "*.png")
        .load(dir)
        .select(col("path"), col("content"))
        .as[(String, Array[Byte])]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { case (p, bytes) =>
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            (p.substring(p.lastIndexOf('/') + 1),
              img.getWidth, img.getHeight)
          }
        }
        .toDF("fname", "width", "height")
        .orderBy("fname")
    }),

    // B47: nested multimodal bundle — struct(text, embedding, meta map),
    // then field/element access through the nested column.
    "multimodal_struct" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val emb = t(s, d, "embeddings")
      docs.join(emb, col("doc_id") === col("vec_id"))
        .select(col("doc_id"),
          struct(col("text"), col("embedding"),
            map(lit("lang"), col("lang"), lit("source"), col("source"))
              .as("meta")).as("bundle"))
        .select(
          col("doc_id"),
          round(element_at(col("bundle.embedding"), 1).cast("double"), 4)
            .as("emb0"),
          length(col("bundle.text")).as("len"),
          element_at(col("bundle.meta"), "lang").as("meta_lang"))
        .orderBy("doc_id")
    }),

    // REAL audio decode (WAV via the JDK's own javax.sound.sampled, no
    // external libraries): each document's UTF-8 bytes become an 8-bit
    // mono PCM signal at a per-doc sample rate, wrapped into a WAV
    // container by AudioSystem.write; a SEPARATE mapPartitions pass then
    // decodes the opaque binary payload back and reports the recovered
    // format (rate / channels / bit depth) and frame count. Same
    // end-to-end multimodal shape as the PNG query — binary column in,
    // per-partition codec loop, typed features out — and the oracle
    // checks decode(encode(rate, pcm)) == (rate, |pcm|): roundtrip
    // fidelity through a real container format, not a copied expression.
    "multimodal_binary_decode" -> ((s, d) => {
      import s.implicits._
      val wav = t(s, d, "documents")
        // single-file source = one partition; the codec loops below must
        // run on every core, not one
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          (lit(8000) + (col("doc_id") % 4).cast("int") * 4000).as("rate"),
          col("text").cast("binary").as("pcm"))
        .as[(Long, Int, Array[Byte])]
        .mapPartitions { it =>
          val encode = waveWriter() // provider resolved once per task
          it.map { case (id, rate, pcm) =>
            // WAV stores 8-bit PCM unsigned; frame = 1 byte (mono, 8 bit)
            val fmt = new javax.sound.sampled.AudioFormat(
              javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
              rate.toFloat, 8, 1, 1, rate.toFloat, false)
            val src = new javax.sound.sampled.AudioInputStream(
              new java.io.ByteArrayInputStream(pcm), fmt, pcm.length.toLong)
            val bytes = encode(src)
            src.close()
            (id, bytes)
          }
        }.toDF("doc_id", "wav")
      wav.as[(Long, Array[Byte])]
        .mapPartitions { it =>
          // codec "client" per partition, payloads decoded in a batch loop
          val decode = waveReader()
          it.map { case (id, bytes) =>
            val in = decode(bytes)
            val fmt = in.getFormat
            val frames = in.getFrameLength
            in.close()
            (id, fmt.getSampleRate.toInt, fmt.getChannels,
              fmt.getSampleSizeInBits, frames)
          }
        }.toDF("doc_id", "sample_rate", "channels", "bits", "n_frames")
        .orderBy("doc_id")
    }),

    // REAL image decode (no stub): a deterministic PNG is synthesized per
    // document with the JDK's own codec (BufferedImage + ImageIO — no
    // external libraries), then a SEPARATE mapPartitions pass decodes the
    // binary payload back and reports the recovered dimensions. This is
    // the genuine multimodal shape end-to-end: opaque binary column in,
    // per-partition codec loop, typed features out — and the oracle
    // checks decode(encode(w,h)) == (w,h), i.e. real roundtrip fidelity.
    // Blur / sharpness detection — the image-quality gate a multimodal
    // curation pipeline runs right after decode (defocused or heavily
    // compressed frames score near zero and are dropped before feature
    // extraction). Signal: variance of the 4-neighbour Laplacian over
    // the grayscale plane, the classic OpenCV-style detector, computed
    // here with EXACT integer moments (Σℓ, Σℓ² as longs, variance as
    // one double division at the end) so the score is order-free and
    // bit-replayable. Same plumbing contract as the other codec keys:
    // PNGs are synthesized with a deterministic per-pixel pattern,
    // encode→decode→convolve runs in ONE per-partition loop, and the
    // shuffle carries 4 scalars per image, never pixels. No SQL twin
    // (DuckDB can't decode PNG) — spec-gated by an independent decode
    // replay (OperatorsSpec pins it as no-oracle).
    "multimodal_blur_detect" -> ((s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          (col("doc_id") % 16 + 1).cast("int").as("w"),
          (col("doc_id") % 12 + 1).cast("int").as("h"))
        .as[(Long, Int, Int)]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { case (id, w, h) =>
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            for (y <- 0 until h; x <- 0 until w) {
              val g = (x * 31 + y * 17 + (id % 97)).toInt % 256
              img.setRGB(x, y, g << 16 | g << 8 | g)
            }
            val baos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", baos)
            val dec = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(baos.toByteArray))
            val (dw, dh) = (dec.getWidth, dec.getHeight)
            def gray(x: Int, y: Int): Long = dec.getRGB(x, y) & 0xff
            var sl = 0L; var sl2 = 0L; var n = 0L
            for (y <- 1 until dh - 1; x <- 1 until dw - 1) {
              val l = gray(x - 1, y) + gray(x + 1, y) + gray(x, y - 1) +
                gray(x, y + 1) - 4 * gray(x, y)
              sl += l; sl2 += l * l; n += 1
            }
            val v =
              if (n == 0) 0.0
              else (sl2.toDouble - sl.toDouble * sl / n) / n
            (id, dw, dh, v)
          }
        }.toDF("doc_id", "width", "height", "lv")
        .select(col("doc_id"), col("width"), col("height"),
          (round(col("lv"), 4) + lit(0.0)).as("lap_var"),
          (col("lv") >= 50.0).as("is_sharp"))
        .orderBy("doc_id")
    }),

    "multimodal_image_decode" -> ((s, d) => {
      import s.implicits._
      val png = t(s, d, "documents")
        // single-file source = one partition; the codec loops below must
        // run on every core, not one
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          (col("doc_id") % 16 + 1).cast("int").as("w"),
          (col("doc_id") % 12 + 1).cast("int").as("h"))
        .as[(Long, Int, Int)]
        .mapPartitions { it =>
          // in-memory stream cache: ImageIO defaults to a DISK-backed
          // cache file per image — 5000 temp files of pure overhead
          javax.imageio.ImageIO.setUseCache(false)
          it.map { case (id, w, h) =>
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            img.setRGB(0, 0, (id % 0xffffff).toInt) // deterministic pixel
            val baos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", baos)
            (id, baos.toByteArray)
          }
        }.toDF("doc_id", "png")
      png.as[(Long, Array[Byte])]
        .mapPartitions { it =>
          // codec "client" per partition, payloads decoded in a batch loop
          javax.imageio.ImageIO.setUseCache(false)
          it.map { case (id, bytes) =>
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            (id, img.getWidth, img.getHeight)
          }
        }.toDF("doc_id", "width", "height")
        .orderBy("doc_id")
    }),

    // REAL image resize (the feature-prep step after decode): a
    // deterministic gradient PNG per doc — pixel(x,y) = (id·7 + x·31 +
    // y·17) mod 2²⁴ — is encoded with the JDK codec, decoded back, and
    // nearest-neighbor resampled to a 4×4 thumbnail in a per-partition
    // loop; the output is integer-exact thumbnail features (sum + two
    // corners). PNG is lossless and NN resampling is pure index math
    // (src = ⌊dest·dim/4⌋), so the whole codec→resize pipeline has a
    // CLOSED FORM the DuckDB oracle recomputes — a green row proves
    // encode→decode→resample fidelity, not just plumbing. Shuffles
    // carry 3 scalars per doc; pixels never leave the partition.
    "multimodal_image_resize" -> ((s, d) => {
      import s.implicits._
      val T = 4
      val png = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          (col("doc_id") % 16 + 5).cast("int").as("w"),
          (col("doc_id") % 12 + 5).cast("int").as("h"))
        .as[(Long, Int, Int)]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { case (id, w, h) =>
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                img.setRGB(x, y,
                  ((id * 7 + x * 31 + y * 17) % 16777216L).toInt)
                x += 1
              }
              y += 1
            }
            val baos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", baos)
            (id, baos.toByteArray)
          }
        }.toDF("doc_id", "png")
      png.as[(Long, Array[Byte])]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { case (id, bytes) =>
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            val (w, h) = (img.getWidth, img.getHeight)
            def px(x: Int, y: Int): Long =
              (img.getRGB(x * w / T, y * h / T) & 0xffffff).toLong
            var sum = 0L
            var y = 0
            while (y < T) {
              var x = 0
              while (x < T) { sum += px(x, y); x += 1 }
              y += 1
            }
            (id, sum, px(0, 0), px(T - 1, T - 1))
          }
        }.toDF("doc_id", "thumb_sum", "c00", "c33")
        .orderBy("doc_id")
    }),

    // REAL audio feature extraction: the WAV payloads are decoded with
    // the JDK codec and reduced to per-doc signal features — duration,
    // peak deviation from the 8-bit midline, midline-crossing count
    // (the cheap pitch/noisiness proxy) and mean deviation (DC offset).
    // This is the feature-extract stage of the multimodal brief made
    // concrete: opaque binary in, ONE tight per-partition loop over the
    // decoded frames, fixed-width typed features out — the shuffle after
    // this map stage carries 5 scalars per doc, never audio bytes. All
    // features are integer-exact except the mean (exact sum / count),
    // so the spec can verify them bit-for-bit against an independent
    // decode. No oracle by design: DuckDB cannot run the WAV codec.
    "multimodal_audio_features" -> ((s, d) => {
      import s.implicits._
      val wav = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          (lit(8000) + (col("doc_id") % 4).cast("int") * 4000).as("rate"),
          col("text").cast("binary").as("pcm"))
        .as[(Long, Int, Array[Byte])]
        .mapPartitions { it =>
          val encode = waveWriter() // provider resolved once per task
          it.map { case (id, rate, pcm) =>
            val fmt = new javax.sound.sampled.AudioFormat(
              javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
              rate.toFloat, 8, 1, 1, rate.toFloat, false)
            val src = new javax.sound.sampled.AudioInputStream(
              new java.io.ByteArrayInputStream(pcm), fmt, pcm.length.toLong)
            val bytes = encode(src)
            src.close()
            (id, bytes)
          }
        }.toDF("doc_id", "wav")
      wav.as[(Long, Array[Byte])]
        .mapPartitions { it =>
          val decode = waveReader()
          it.map { case (id, bytes) =>
            val in = decode(bytes)
            val rate = in.getFormat.getSampleRate.toInt
            val buf = in.readAllBytes()
            in.close()
            var peak = 0; var zc = 0; var sum = 0L; var prev = 0
            var i = 0
            while (i < buf.length) {
              // 8-bit PCM is unsigned; deviation is from the 128 midline
              val v = (buf(i) & 0xff) - 128
              if (math.abs(v) > peak) peak = math.abs(v)
              sum += v
              if (i > 0 && ((v > 0 && prev <= 0) || (v < 0 && prev >= 0)))
                zc += 1
              prev = v
              i += 1
            }
            (id, rate, buf.length.toLong, peak, zc, sum)
          }
        }.toDF("doc_id", "sample_rate", "n_frames", "peak",
          "midline_crossings", "sum_dev")
        .select(col("doc_id"), col("sample_rate"), col("n_frames"),
          round(col("n_frames").cast("double") / col("sample_rate"), 4)
            .as("duration_sec"),
          col("peak"), col("midline_crossings"),
          when(col("n_frames") > 0,
            round(col("sum_dev").cast("double") / col("n_frames"), 4))
            .as("mean_dev"))
        .orderBy("doc_id")
    }),

    // Frame sampling: fixed 64-byte frames, keep every 2nd — the
    // explode(sequence(...)) shape used to fan a blob into per-frame rows.
    "multimodal_frame_sample" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), length(col("text")).cast("long").as("len"))
        // empty payloads yield no frames — and keep Spark's truncating
        // division in agreement with the oracle's floor division, which
        // disagree only at len = 0
        .filter(col("len") > 0)
        .select(col("doc_id"), col("len"),
          // Spark `/` is double division — floor back to long for sequence.
          explode(sequence(lit(0L), ((col("len") - 1) / 64).cast("long")))
            .as("frame_idx"))
        .filter(col("frame_idx") % 2 === 0)
        .select(col("doc_id"), col("frame_idx"),
          least(lit(64L), col("len") - col("frame_idx") * 64).cast("int")
            .as("frame_len"))
        .orderBy("doc_id", "frame_idx")),

    // Perceptual near-dup over IMAGES: dHash (difference hash — 9×8
    // grayscale downscale, neighbor-brightness compare → 64-bit
    // fingerprint) of each decoded PNG, then the SAME band-bucket +
    // Hamming machinery the SimHash text path uses (Dedup.simhashPairs is
    // fingerprint-agnostic). Images are synthesized in groups of 4
    // (doc_id/4 picks the base gradient pattern; odd docs get a one-pixel
    // perturbation) so true near-dups exist by construction, the dHash
    // downscale absorbs the perturbation, and group size stays constant
    // as the corpus grows — pair count is O(n), not O(n²). At 100 TB the
    // shuffle after the decode pass carries ONLY (id, fp) 16-byte rows,
    // never pixels; with ≤3 flipped bits and 4 bands, pigeonhole
    // guarantees the banded join cannot miss a qualifying pair.
    "multimodal_phash_neardup" -> ((s, d) => {
      import s.implicits._
      val fps = t(s, d, "documents")
        // single-file source = one partition; the codec loops below must
        // run on every core, not one
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), (col("doc_id") / 4).cast("long").as("pat"),
          (col("doc_id") % 2).cast("int").as("odd"))
        .as[(Long, Long, Int)]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { case (id, pat, odd) =>
            val a = (pat % 13 + 1).toInt
            val b = (pat / 13 % 13 + 1).toInt
            val c = (pat * 7 % 251).toInt
            val img = new java.awt.image.BufferedImage(16, 16,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < 16) {
              var x = 0
              while (x < 16) {
                val v = ((x * a + y * b) * 16 + c) % 256
                img.setRGB(x, y, v << 16 | v << 8 | v)
                x += 1
              }
              y += 1
            }
            if (odd == 1) { // tiny perturbation: ±4 gray on one pixel
              val px = (pat % 16).toInt
              val py = (pat % 8).toInt
              img.setRGB(px, py, img.getRGB(px, py) ^ 0x040404)
            }
            // encode→decode roundtrip keeps this the real binary-column
            // path (opaque bytes between the two codec loops)
            val baos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", baos)
            (id, baos.toByteArray)
          }
        }.toDF("doc_id", "png")
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { case (id, bytes) =>
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            val scaled = new java.awt.image.BufferedImage(9, 8,
              java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
            val g2 = scaled.createGraphics()
            g2.drawImage(img, 0, 0, 9, 8, null)
            g2.dispose()
            val r = scaled.getRaster
            var h = 0L
            var bit = 0
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 8) {
                if (r.getSample(x, y, 0) > r.getSample(x + 1, y, 0))
                  h |= 1L << bit
                bit += 1
                x += 1
              }
              y += 1
            }
            (id, h)
          }
        }.toDF("doc_id", "fp")
      graft.operators.Dedup.simhashPairs(fps, "doc_id", maxHamming = 2)
        .orderBy("da", "db")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    // ground truth = the deterministic generator; a match proves the
    // file write → binaryFile scan → decode roundtrip, since width and
    // height only exist inside the PNG bytes read back from disk
    "scan_binaryfile" ->
      """SELECT concat('img_', doc_id, '.png') AS fname,
        |       CAST(doc_id % 16 + 1 AS INT) AS width,
        |       CAST(doc_id % 12 + 1 AS INT) AS height
        |FROM documents ORDER BY fname""".stripMargin,
    // identical ground truth: the packed layout must reproduce exactly
    // what the file-per-image scan decodes
    "scan_binary_packed" ->
      """SELECT concat('img_', doc_id, '.png') AS fname,
        |       CAST(doc_id % 16 + 1 AS INT) AS width,
        |       CAST(doc_id % 12 + 1 AS INT) AS height
        |FROM documents ORDER BY fname""".stripMargin,
    "multimodal_struct" ->
      """SELECT doc_id,
        |       round(CAST(embedding[1] AS DOUBLE), 4) AS emb0,
        |       CAST(length(text) AS INT) AS len,
        |       lang AS meta_lang
        |FROM documents JOIN embeddings ON vec_id = doc_id
        |ORDER BY doc_id""".stripMargin,
    // closed form of the codec→NN-resample pipeline: PNG is lossless,
    // so the decoded pixel equals the synthesized gradient and the
    // 4×4 thumbnail features are pure integer arithmetic per doc
    "multimodal_image_resize" ->
      """WITH g AS (
        |  SELECT doc_id, doc_id % 16 + 5 AS w, doc_id % 12 + 5 AS h,
        |         x.i AS x, y.i AS y
        |  FROM documents
        |  CROSS JOIN range(0, 4) x(i) CROSS JOIN range(0, 4) y(i)
        |), px AS (
        |  SELECT doc_id, x, y,
        |         (doc_id * 7 + ((x * w) // 4) * 31 + ((y * h) // 4) * 17)
        |           % 16777216 AS v
        |  FROM g
        |)
        |SELECT doc_id, CAST(sum(v) AS BIGINT) AS thumb_sum,
        |       CAST(max(CASE WHEN x = 0 AND y = 0 THEN v END) AS BIGINT)
        |         AS c00,
        |       CAST(max(CASE WHEN x = 3 AND y = 3 THEN v END) AS BIGINT)
        |         AS c33
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the decoded dims must equal the encoded ones — the oracle checks
    // the codec roundtrip, not a copy of the Spark expression
    "multimodal_image_decode" ->
      """SELECT doc_id,
        |       CAST(doc_id % 16 + 1 AS INT) AS width,
        |       CAST(doc_id % 12 + 1 AS INT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the decoded WAV format must equal the encoded one — the oracle
    // checks the codec roundtrip. strlen = DuckDB's BYTE length: one
    // frame per UTF-8 payload byte (8-bit mono PCM), so a multibyte char
    // counts per byte on both sides.
    "multimodal_binary_decode" ->
      """SELECT doc_id,
        |       CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
        |       1 AS channels,
        |       8 AS bits,
        |       CAST(strlen(text) AS BIGINT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    "multimodal_frame_sample" ->
      """SELECT doc_id, frame_idx,
        |       CAST(least(64, length(text) - frame_idx * 64) AS INT)
        |         AS frame_len
        |FROM (
        |  SELECT doc_id, text,
        |         unnest(range(0, (length(text) - 1) // 64 + 1))
        |           AS frame_idx
        |  FROM documents WHERE length(text) > 0
        |) WHERE frame_idx % 2 = 0 ORDER BY doc_id, frame_idx""".stripMargin,
  )
}
